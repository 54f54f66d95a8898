package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._
import graft.functions.DeterministicHash._

/** Deduplication operators for LLM-training-data pipelines: exact
  * (hash-groupBy), MinHash banding (shingle → minhash → band →
  * bucket-join), SimHash, and blocked n-gram Jaccard.
  *
  * Scale design: every variant is a pure shuffle-on-key plan.
  * - exact/fingerprint dedup shuffles on a 128-bit content hash —
  *   uniform keys, no skew, map-side partial aggregation.
  * - MinHash banding turns all-pairs O(n²) into groupBy(band) — only
  *   docs sharing a band collide, so the shuffle volume is n × bands
  *   rows regardless of corpus size.
  * - blocked Jaccard bounds the pair join by (lang, source, length
  *   band) blocking keys — the cartesian term is per-block only.
  * All hashes are md5-derived (DeterministicHash) so the DuckDB oracle
  * replays them exactly; swap to xxhash64 for the non-oracled fast path.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Tokenized documents: ws = whitespace tokens of trimmed text. */
  private def docs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("ws", expr("split(trim(text), '\\\\s+')"))

  private val shinglesExpr =
    """if(size(ws) < 3, array(concat_ws(' ', ws)),
      |   transform(sequence(1, size(ws) - 2),
      |             i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2))))""".stripMargin

  private[operators] val sqlDocs =
    "SELECT *, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents"

  /** Exact dedup: group on content hash, count collapsed duplicates. */
  val d1Exact: Q = (s, d) =>
    documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_unique"),
           (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))

  /** Per-seed permutation constants for xor seed-mixing: ONE md5 per
    * shingle, then 8 cheap xor permutations of that base hash (instead
    * of 8 md5 passes — measured 4s → sub-second at sf0.1). Constants
    * come from the shared deterministic hash so the oracle replays
    * them.
    */
  private val seedConsts: Seq[Long] =
    (0 until 8).map(j => graft.functions.DeterministicHash.h32Local(s"minhash-seed:$j"))

  // The 32-bit base hash (`conv(substring(md5(x), 1, 8), 16, 10)`)
  // now lives inside the MinHash8 kernel; the composed SQL form
  // survives in the oracles and in MinHash8Spec's reference
  // computation.

  /** MinHash signatures: 8 xor-permutations over 3-word shingle hashes;
    * min per permutation. Output one signature string per doc
    * (oracle-checked exactly).
    *
    * r14: the 8 minima come from the native MinHash8 kernel — one
    * digest per shingle and eight running minima in one generated
    * pass, replacing the baseHashes transform + 8 per-permutation
    * transform/array_min interpreted HOF passes (the d4/SimHash16
    * lesson applied to the whole minhash family; MinHash8Spec pins
    * kernel ≡ the composed form, and the DuckDB oracle still replays
    * the composed SQL).
    */
  val d2MinhashSig: Q = (s, d) => {
    docs(s, d)
      .withColumn("sh", expr(shinglesExpr))
      .withColumn("mh",
        graft.functions.VectorFunctions.minHash8(col("sh"), seedConsts))
      .select(col("doc_id"),
        concat_ws("-", (1 to 8).map(j =>
          element_at(col("mh"), j).cast("string")): _*).as("minhash_sig"))
  }

  /** LSH band array shared by d3 (bucket histogram) and d9
    * (dup-cluster components) — the two must band identically or d9's
    * edges diverge from d3's published candidate counts. Bands build
    * on the MinHash8 kernel output (r14): band b pairs permutations
    * 2b and 2b+1, rendered exactly as the composed concat form.
    */
  private def bandArray(mh: org.apache.spark.sql.Column) =
    array((0 until 4).map { b =>
      concat(lit(s"$b:"), element_at(mh, 2 * b + 1).cast("string"),
             lit("-"), element_at(mh, 2 * b + 2).cast("string"))
    }: _*)

  /** (doc_id, band) rows: 4 bands × 2 minhash rows per doc. */
  private def bandTable(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("sh", expr(shinglesExpr))
      .select(col("doc_id"), explode(bandArray(
        graft.functions.VectorFunctions.minHash8(col("sh"), seedConsts)))
        .as("band"))

  /** Band-explode an arbitrary `text`-carrying DataFrame with the SAME
    * shingle/hash/band constants as d3/d9 — shared with the streaming
    * near-dup filter ([[graft.streaming.StreamingNearDup]]) so the
    * continuous index is the batch index, not a copy that can drift.
    * Adds one `band` row per (row, band); helper columns are dropped.
    */
  private[graft] def bandExploded(df: DataFrame): DataFrame =
    df.withColumn("ws", expr("split(trim(text), '\\\\s+')"))
      .withColumn("sh", expr(shinglesExpr))
      .withColumn("band", explode(bandArray(
        graft.functions.VectorFunctions.minHash8(col("sh"), seedConsts))))
      .drop("ws", "sh", "text")

  /** MinHash LSH banding: 4 bands × 2 rows; docs sharing any band are
    * candidate near-dups. groupBy(band) — no all-pairs join; shuffle
    * volume is 4 rows/doc at any corpus size.
    */
  val d3MinhashBuckets: Q = (s, d) =>
    bandTable(s, d)
      .groupBy(col("band")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .agg(count(lit(1)).as("n_buckets"),
           sum(col("n_docs") * (col("n_docs") - 1) / 2).cast("long").as("n_candidate_pairs"),
           max(col("n_docs")).as("max_bucket"))

  /** Connected-components clustering of the LSH candidate graph — the
    * step a dedup pipeline runs AFTER banding: docs sharing any band
    * form edges, each component is one duplicate cluster, and the
    * minimum doc id is its canonical representative (the doc a
    * curation pass would keep).
    *
    * Implementation is iterative MIN-LABEL PROPAGATION, the
    * shuffle-on-key form of connected components: each round joins
    * labels across edges and keeps the per-node minimum, converging
    * when no label changes — rounds are bounded by component DIAMETER
    * (tiny for dup clusters, which are near-cliques). Every round
    * localCheckpoints the node-sized label table to truncate lineage
    * (the standard Spark iterative-graph shape — GraphX's Pregel does
    * the same); the driver holds only the changed-label COUNT, never
    * data. At 100 TB each round is one hash-partitioned join+agg on
    * the node id.
    */
  val d9DupClusters: Q = (s, d) =>
    dupMembership(s, d)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))

  /** (id, cluster) membership for every doc in the LSH candidate
    * graph — shared by d9's cluster stats, d10's curation, d20's pair
    * mining and d21's recall eval.
    *
    * The membership table is MATERIALIZED once per (session, corpus)
    * as a scratch parquet artifact and every consumer scans that:
    * this is the production shape — a pipeline computes connected
    * components ONCE and persists the cluster table; downstream
    * curation/pair-mining jobs read the artifact, they do not re-run
    * the iterative CC per consumer (at 100 TB that recompute is the
    * anti-pattern, and in the sf0.1 bench it was 4 queries × ~1.5 s
    * of identical label propagation). Parquet — not cached blocks —
    * so the artifact survives Bench's per-query block sweep, and the
    * result is byte-deterministic per corpus so reuse cannot change
    * any query's output. `SPARK_GRAFT_CACHE=0` (the documented
    * cold-run mode) bypasses the memo, and ScaleCurve clears it
    * between measurements so every curve point measures the COLD
    * cluster computation, never artifact reuse.
    */
  private val membershipMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  private[graft] def clearMaterialized(): Unit = membershipMemo.clear()

  /** Corpus-sized shared-build materialization: non-eager
    * localCheckpoint with SERIALIZED block storage. The default
    * deserialized level stores row objects (~4-6x the serialized
    * bytes for these primitive-heavy rows) and, when a block lands on
    * disk, re-inflates it to objects on every read
    * (maybeCacheDiskValuesInMemory) — at sf100 (5M docs) the d8/d22
    * build overflowed the 28 GB storage pool, paged through disk with
    * per-partition eviction churn, and finally OOM'd a 48g heap on
    * exactly that re-inflation. Serialized blocks keep the footprint
    * ~proportional to the parquet bytes and disk reads stay bytes.
    * Node-sized tables (d9's label table) and tiny survivor sets keep
    * the default level — object form is faster when it surely fits.
    */
  private def matSer(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Data-proportional shuffle width for the corpus-sized build
    * stages: sized so each reducer's share of the EXPANDED data (the
    * exploded-token and candidate-pair streams run ~30× the document
    * parquet bytes) stays well inside task execution memory. With the
    * session floor of 32, small corpora keep their pre-r8 plan
    * WIDTHS — not byte-identical plans: the numbered repartition is
    * REPARTITION_BY_NUM, which pins the count and opts out of the AQE
    * partition coalescing the unnumbered form allowed (the benched
    * sf0.1 numbers carry this pinned shape);
    * at sf100 (835 MB of documents) this yields ~420 reducers —
    * measured there: the 32-reducer plan spilled 62 GB mem / 28 GB
    * disk across the window sort, the candidate-expansion join and
    * the verify join, because AQE can only coalesce DOWN from the
    * session's initialPartitionNum and sizes the expansion join by
    * its (small) INPUT bytes, blind to its ~8× output. Explicit width
    * on these four exchanges is the same sizing a cluster job does
    * with spark.sql.shuffle.partitions ∝ input bytes.
    */
  private def scaleParts(s: SparkSession, d: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val floor = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(floor, (bytes / (2L << 20)).toInt)
  }

  private[graft] def dupMembership(s: SparkSession, d: String): DataFrame =
    if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "1") == "0")
      dupMembershipCold(s, d)
    else {
      // evict entries of stopped sessions (same discipline as Tables)
      membershipMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
      membershipMemo.computeIfAbsent((s, d), { _ =>
        // key the scratch name on a COLLISION-RESISTANT digest of the
        // corpus path: String.hashCode collides easily enough that two
        // corpus dirs in one session could share a path — the first
        // memoized DataFrame would then lazily read the second
        // corpus's overwrite, i.e. silently wrong results, not an error
        val dig = java.security.MessageDigest.getInstance("SHA-256")
          .digest(d.getBytes("UTF-8")).take(12)
          .map(b => f"$b%02x").mkString
        val out = graft.operators.Coverage.scratchDir(
          "dup_membership_" + dig +
            "_" + Integer.toHexString(System.identityHashCode(s)))
        dupMembershipCold(s, d).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      })
    }

  /** The un-memoized computation: LSH band edges → min-label CC. */
  private[graft] def dupMembershipCold(s: SparkSession, d: String): DataFrame = {
    val bands = bandTable(s, d)
    val edges = bands.toDF("a", "band").join(bands.toDF("b", "band_b"),
        col("band") === col("band_b") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    connectedComponents(edges)
  }

  /** End-to-end curation composite — the make-a-training-set flow a
    * user of this library actually runs: resolve near-dup clusters
    * (d9), DROP every non-canonical member (the min-id doc per
    * cluster survives), score survivors with the t2 quality tiers,
    * and report curated counts per (lang, tier). Dedup + quality +
    * stats in one declarative pipeline; the anti join on the loser
    * set is the only plan node d9/t2 don't already have, and the
    * loser table is duplicate-members-only (tiny next to the corpus),
    * so at scale it broadcasts.
    */
  val d10Curate: Q = (s, d) => {
    val losers = dupMembership(s, d)
      .filter(col("id") =!= col("cluster")).select(col("id"))
    docs(s, d)
      .join(losers, col("doc_id") === col("id"), "left_anti")
      .withColumn("n_words", size(col("ws")))
      .withColumn("n_distinct", size(array_distinct(col("ws"))))
      .withColumn("len_ok",
        (col("n_chars") >= 100 && col("n_chars") <= 800).cast("int"))
      .withColumn("diversity_pct",
        floor(col("n_distinct") * 100.0 / col("n_words")).cast("long"))
      .withColumn("tier",
        when(col("len_ok") === 1 && col("diversity_pct") >= 80, "high")
          .when(col("diversity_pct") >= 60, "mid")
          .otherwise("low"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
  }

  /** Min-label-propagation connected components over an (a, b) edge
    * list (long ids): returns (id, cluster) where cluster = the
    * minimum id reachable from `id`. Isolated nodes don't appear
    * (callers union them back if singletons matter). See
    * d9DupClusters for the scale argument; DedupSpec pins multi-round
    * convergence on a chain graph whose diameter forces propagation.
    */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // symmetric closure so a min label flows in both directions;
    // pre-partitioned on the join key so the per-round join reads the
    // checkpoint CO-LOCATED (LogicalRDD keeps the partitioning, so
    // only the small labels side exchanges each round)
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b"))
      .localCheckpoint() // reused every round — pin it once
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      val nbr = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("lbl"))
      // the node's OWN label rides through the same aggregation (as the
      // max over the own-tagged branch), so convergence is read off the
      // checkpointed result with a cheap scan — no extra join per round.
      // The checkpoint is LAZY: the convergence count below is the
      // action that materializes it, so each round runs ONE job, not a
      // checkpoint job plus a count job.
      val next = labels.withColumn("own", lit(true))
        .union(nbr.withColumn("own", lit(false)))
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"),
             max(when(col("own"), col("lbl"))).as("old"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    // truncation must be LOUD: returning part-propagated labels would
    // silently split true components (a >32-diameter chain is not a
    // dup-cluster shape, but a caller feeding arbitrary graphs hits it)
    require(changed == 0,
      s"connected components did not converge after $rounds rounds " +
        s"($changed labels still changing)")
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** SimHash: 16-bit signature from per-token hash bit votes, via the
    * NATIVE kernel (org.apache.spark.sql.graftnative.SimHash16 — one
    * md5 per token, 16 bit-counts, one generated call per doc).
    *
    * r14 history of this query's cost: the composed HOF form re-hashed
    * every token 16× (md5 inside the per-bit lambda) and, once the r13
    * toRdd re-baselining stopped Catalyst's count-rewrite from pruning
    * it, surfaced as the #1 bench resident (~3 s). Hoisting the hash
    * (the d16 baseHashes pattern) recovered almost nothing — isolated
    * fresh-JVM min 2.86 s vs 2.78 s — proving the cost was the nested
    * interpreted-lambda machinery (17 passes + an allocation per bit
    * per doc), not the hashing. SimHashSpec pins kernel ≡ the original
    * HOF expression bit-for-bit; the DuckDB oracle is unchanged.
    */
  val d4Simhash: Q = (s, d) =>
    docs(s, d).select(col("doc_id"), col("lang"),
      graft.functions.VectorFunctions.simHash16(col("ws")).as("simhash"))

  /** Shingling through the NATIVE Generator (UDTF surface,
    * org.apache.spark.sql.graftnative.Shingles): same semantics as
    * the composed shinglesExpr, but as a table function planned into
    * a pipelined Generate node. Counts per language pin the rowset.
    */
  val d7ShingleGenerator: Q = (s, d) => {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    documents(s, d)
      .select(col("lang"), expr("shingles(text, 3)").as("shingle"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_shingles"),
           countDistinct(col("shingle")).as("n_distinct"))
  }

  /** The `d8_prefix_join` build: TWO slim materialized tables —
    *  - prefix rows (doc_id, n, pos, tok): one row per rare-first
    *    prefix token, computed by a per-doc RANK over global token
    *    frequency; these drive the candidate self-join;
    *  - token sets (doc_id, lang, n, st): the per-doc VALUE-sorted
    *    token array the verify stage's two-pointer intersect reads.
    *
    * Token sets are the docs' distinct 3-word SHINGLES, not raw words:
    * the synthetic corpus draws words from a ~31-word vocabulary, so
    * word-level prefixes degenerate toward all-pairs; shingling lifts
    * the effective vocabulary to |V|³ >> corpus size (27k distinct
    * shingles vs 5k docs at sf0.1) — the regime real text is in and
    * the one prefix filtering is designed for. No corpus bound: this
    * runs over the FULL documents table.
    *
    * Why rank-then-filter instead of the previous collect-then-slice
    * (one wide aggregate building a freq-ordered array per doc, then
    * exploding its prefix): the freq-ordered array was only ever
    * consumed through its first `plen` elements, yet every doc paid a
    * collect_list(struct(freq, tok)) aggregation buffer plus an
    * array_sort over struct rows — the ONE stage of this plan that
    * spilled at scale (sf30/48g profile: 7.2 GB memory spill, 933
    * exec-s). Ranking inside a doc_id window keeps every hot stage on
    * SLIM PRIMITIVE ROWS: the window is a spill-graceful sort of
    * ~32-byte rows, the prefix filter emits rows (never arrays), and
    * the only array ever built is the value-sorted `st` — a
    * collect_list of bare longs with no struct wrapping and no
    * post-agg struct sort (re-profiled at sf30: zero spill, the build
    * stage's exec-time halved). Order semantics are IDENTICAL:
    * row_number over (freq, tok) is the array_sort(struct(freq, tok))
    * order, and (freq, tok) is unique within a doc, so the rank — and
    * therefore the published output — is deterministic.
    */
  private[graft] def d8Build(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    // Two deliberate moves here:
    // - shingling goes through the NATIVE `shingles` Generator (d7's
    //   UDTF), not the composed array expression: Catalyst collapses a
    //   composed generator input INTO the Generate node and
    //   re-evaluates the whole shingle pipeline per OUTPUT row
    //   (measured 11.5 s vs 0.3 s at sf0.1) — the native Generator
    //   tokenizes once per document and streams its shingles;
    // - tokens are HASHED to 60-bit longs (md5-prefix, so the DuckDB
    //   oracle replays them exactly — same trick as the minhash base
    //   hash): every downstream shuffle, join and intersect then
    //   runs on primitive longs instead of UTF8Strings (measured ~3×
    //   on the verify stage); 27k tokens in a 2^60 space makes a
    //   collision (which would only merge two tokens) vanishingly rare
    //   and, since both engines hash identically, oracle-invisible.
    val raw = hashedShingleToks(s, d).select(col("doc_id"), col("lang"), col("tok"))
    val parts = scaleParts(s, d)
    // TWO corpus-token exchanges feed the whole build (r15; was three
    // plus a freq aggregate and a join):
    //  - EXCHANGE 1 on tok: hash-partitioning on tok alone satisfies
    //    the clustering of the per-doc-distinct aggregate (tok ⊆ its
    //    grouping keys) AND of the freq window below it. The global
    //    token frequency is a count(*) OVER (PARTITION BY tok) on the
    //    distinct stream — the same integer the old groupBy(tok)
    //    aggregate produced, but computed in-partition for one local
    //    sort by tok instead of a second corpus-stream hash aggregate
    //    plus a join back onto the stream it came from (guide §2.3/
    //    §2.4: two operations keyed the same way share one exchange).
    //  - EXCHANGE 2 on doc_id: satisfies both per-doc windows' (and,
    //    downstream, the token-set aggregate's) required distribution
    //    and keeps each reducer's sort inside execution memory at
    //    deep scales. Width scales with corpus bytes (see scaleParts).
    val wTok = Window.partitionBy(col("tok"))
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("freq"), col("tok"))
    val wAll = Window.partitionBy(col("doc_id"))
    // The ranked per-doc distinct token stream, MATERIALIZED once: it
    // has two consumers (the prefix filter and the token-set build),
    // both of which consume it ABOVE its doc_id exchange — without
    // the cut the distinct + both windows run once per consumer.
    // LogicalRDD keeps the doc_id hash-partitioning, so the set
    // aggregate below still runs exchange-free. (Previously the
    // UNRANKED distinct stream was materialized and `sets` paid its
    // own corpus-sized doc_id exchange; sharing the ranked stream
    // deletes that third exchange. The extra rnk/n ints per row are
    // noise next to the removed shuffle+aggregate+join.)
    val ranked = raw.repartition(parts, col("tok"))
      .distinct()
      .withColumn("freq", count(lit(1)).over(wTok))
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("tok"),
              row_number().over(wOrd).as("rnk"),
              count(lit(1)).over(wAll).as("n"))
      .transform(matSer)
    // Slim prefix-token table: (doc_id, set size n, 0-based prefix
    // position, token); a token is a prefix token iff its rare-first
    // rank is within plen = n - ceil(0.7 n) + 1 (integer arithmetic).
    // Rank semantics are IDENTICAL to the old freq-join form:
    // row_number over (freq, tok) with freq = the global distinct-doc
    // count of the token, and (freq, tok) unique within a doc, so the
    // rank — and therefore the published output — is deterministic.
    // MATERIALIZED because both sides of the candidate self-join
    // consume it above `ranked`'s blocks.
    val prefix = ranked
      .filter(col("rnk") <= col("n") - expr("(n * 7 + 9) DIV 10") + 1)
      .select(col("doc_id"), col("n"), (col("rnk") - 1).as("pos"), col("tok"))
      .transform(matSer)
    // st = the VALUE-sorted token set for the verify stage's
    // two-pointer intersect — the only array in the plan, built from
    // `ranked` exchange-free (value order needs no freq, so the
    // window order underneath is irrelevant: array_sort re-sorts),
    // and the collect_list buffers bare longs. MATERIALIZED once;
    // both verify sides (and d22's) fan out above its blocks. Blocks
    // go serialized MEMORY_AND_DISK and Bench's per-query sweep
    // unpersists them.
    val sets = ranked
      .groupBy(col("doc_id"))
      .agg(first(col("lang")).as("lang"),
           array_sort(collect_list(col("tok"))).as("st"))
      .withColumn("n", size(col("st")))
      .transform(matSer)
    (prefix, sets, parts)
  }

  /** Raw candidate rows (one per shared prefix token that survives the
    * cheap filters; a pair sharing k such tokens appears k times). The
    * join applies, besides the prefix overlap itself, the two other
    * PPJoin-family candidate filters — both pure integer arithmetic on
    * per-row metadata, evaluated before anything wide is shuffled:
    *  - LENGTH: Jaccard >= 0.7 forces 0.7·|B| <= |A| (and vice versa);
    *  - POSITIONAL: a token at 0-based prefix position p leaves at most
    *    n - p tokens at-or-after it, so the overlap of the pair matched
    *    through positions (pa, pb) is at most min(na-pa, nb-pb) for the
    *    pair's FIRST common token (everything shared sits at-or-after
    *    it on both sides). Jaccard >= 0.7 needs 17·inter >= 7·(na+nb),
    *    so rows with 17·min(na-pa, nb-pb) < 7·(na+nb) can't be a
    *    similar pair's first common token and are dropped. A similar
    *    pair's first-common-token row always passes, so ANY-row
    *    semantics (the countDistinct downstream) stays complete —
    *    later-token duplicate rows may be pruned, which is the point.
    */
  private def d8RawPairs(prefix: DataFrame, parts: Int): DataFrame = {
    // explicit scaled-width tok exchange on BOTH sides — but only at
    // scale (parts above the session floor): this join EXPANDS ~8×
    // (slim prefix rows in, candidate pairs out), and AQE sizes
    // reducers by input bytes — at sf100 it chose 43 reducers for a
    // stage emitting 19 GB, spilling 15 GB through the join sort.
    // Pinning the width keeps each reducer's share of the expanded
    // output inside execution memory. At SMALL corpora the pin is
    // pure cost (it denies the planner the broadcast self-join a
    // 1-2 MB prefix table deserves — measured ~+0.5 s on d22 at
    // sf0.1), so below the floor the planner keeps its freedom.
    val floor = prefix.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val a0 = prefix.toDF("a_id", "n_a", "pos_a", "tok")
    val b0 = prefix.toDF("b_id", "n_b", "pos_b", "tok_b")
    val (a, b) =
      if (parts > floor)
        (a0.repartition(parts, col("tok")),
         b0.repartition(parts, col("tok_b")))
      else (a0, b0)
    a.join(b,
      col("tok") === col("tok_b") && col("a_id") < col("b_id") &&
        col("n_a") * 10 >= col("n_b") * 7 &&
        col("n_b") * 10 >= col("n_a") * 7 &&
        least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) * 17 >=
          (col("n_a") + col("n_b")) * 7)
      .select(col("a_id"), col("b_id"))
  }

  /** Distinct candidate pairs — the diagnostic/scale-curve surface; a
    * prefix token with document-frequency f contributes at most
    * f(f-1)/2 pairs, so the candidate count is bounded by prefix-token
    * df², not corpus² — DedupSpec pins the sub-quadratic ratio and
    * completeness vs brute force.
    *
    * ONE exchange serves two purposes: repartitioning the raw rows on
    * a_id alone satisfies the (a_id, b_id) distinct aggregate's
    * clustering (a_id ⊆ its grouping keys) AND leaves the output
    * hash-partitioned on a_id, exactly what the downstream
    * verification join on a_id needs — dedup + join co-location for
    * the price of one shuffle of slim id-pairs.
    */
  private[graft] def d8Candidates(prefix: DataFrame, parts: Int): DataFrame =
    d8RawPairs(prefix, parts).repartition(parts, col("a_id")).distinct()

  /** Set-similarity join via PREFIX FILTERING (the PPJoin-family
    * technique from the distributed set-similarity-join literature):
    * for Jaccard >= 0.7, two token sets MUST share a token among each
    * one's first |T| - ceil(0.7|T|) + 1 tokens when both are ordered
    * by ascending global token frequency (rare-first). So instead of
    * blocking (d5) or all-pairs, only the short rare-token prefixes
    * are exploded and joined — the candidate set shrinks with the
    * threshold, and the shuffle key is the prefix token. Exact Jaccard
    * then verifies candidates with INTEGER arithmetic (10*inter >=
    * 7*union) so the threshold is engine-exact. Runs UNBOUNDED over
    * the whole corpus (see d8Ordered for why tokens are shingles).
    */
  val d8PrefixJoin: Q = (s, d) => {
    val (prefix, sets, parts) = d8Build(s, d)
    // DISTINCT candidates before verification (the classic PPJoin
    // candidate/verify split, and the same path d22 rides). The r7
    // shape verified RAW pair rows, betting the positional filter left
    // only "a handful" of duplicates — measured wrong at scale: sf100
    // profiles show ~24 raw rows per distinct pair (19 GB of raw pairs
    // into the verify join vs ~0.8 GB of candidates), because every
    // shared prefix token of a true near-dup pair passes the
    // positional bound. The dedup exchange carries the same bytes the
    // verify exchange otherwise would, and everything downstream —
    // the two set joins, the per-pair intersect, the final aggregate —
    // runs on candidate-sized data.
    val pairs = d8Candidates(prefix, parts)
    // tok-ASCENDING token sets (`st`, sorted once per doc inside the
    // materialized build) so the per-pair intersection is the native
    // zero-allocation two-pointer merge (SortedIntersectSize) instead
    // of size(array_intersect)'s per-pair hash set + materialized
    // intersection array — measured on the verify stage, the former
    // hot path of this query
    val oa = sets.select(col("doc_id").as("a_id"), col("lang"),
                         col("st").as("a_t"))
    val ob = sets.select(col("doc_id").as("b_id"),
                         col("st").as("b_t"))
    // verification rebind: the token-set side is already partitioned on
    // the doc id (d8Build groups by it), so only the slim pair stream
    // shuffles — the array side joins exchange-free (AQE may still
    // demote to broadcast when it measures small)
    pairs.join(oa, "a_id").join(ob, "b_id")
      .withColumn("inter",
        graft.functions.VectorFunctions.sortedIntersectSize(col("a_t"), col("b_t")))
      .withColumn("uni", size(col("a_t")) + size(col("b_t")) - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * 7)
      .groupBy(col("lang"))
      // candidates are already distinct; countDistinct is kept so the
      // published semantics ("distinct verified pairs per lang") are
      // explicit in the plan rather than an upstream invariant
      .agg(countDistinct(col("a_id"), col("b_id")).as("n_pairs"),
           min(col("a_id")).as("min_a"))
  }

  /** Blocked n-gram Jaccard: token-set similarity of doc pairs inside
    * (lang, source, length-band) blocks; report pair counts per
    * 0.1-wide Jaccard band (counts only → float-rounding-proof).
    */
  val d5Jaccard: Q = (s, d) => {
    // r14 optimization (guide §1.2 step 2, the d8-verify discipline):
    // token sets ride as VALUE-SORTED 60-bit md5-prefix longs (the
    // d8/d11 representation, hashed+sorted ONCE per doc) so the
    // per-PAIR intersection is the native two-pointer merge
    // (SortedIntersectSize, zero allocation) instead of
    // size(array_intersect)'s per-pair hash set + materialized
    // intersection array over string tokens. Values identical: the
    // word vocabulary is tiny next to the 2^60 hash space (d8's
    // no-collision argument), so |A ∩ B| and the set sizes are
    // unchanged. Per-doc hashing is amortized over every pair the doc
    // appears in (pairs >> docs inside equi-blocks).
    val t = docs(s, d).select(
      col("doc_id"), col("lang"), col("source"),
      (col("n_chars") - col("n_chars") % 100).as("len_band"),
      array_sort(array_distinct(transform(col("ws"),
        x => graft.functions.VectorFunctions.md5Prefix(x, 15)))).as("toks"))
    val a = t.select(col("doc_id").as("a_id"), col("lang"), col("source"),
                     col("len_band"), col("toks").as("a_toks"))
    val b = t.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
                     col("source").as("b_source"), col("len_band").as("b_band"),
                     col("toks").as("b_toks"))
    a.join(b, col("lang") === col("b_lang") && col("source") === col("b_source") &&
              col("len_band") === col("b_band") && col("a_id") < col("b_id"))
      .withColumn("inter", graft.functions.VectorFunctions
        .sortedIntersectSize(col("a_toks"), col("b_toks")))
      .withColumn("uni", size(col("a_toks")) + size(col("b_toks")) - col("inter"))
      .withColumn("j_band", floor(col("inter") * 10.0 / col("uni")).cast("long"))
      .filter(col("j_band") >= 5)
      .groupBy(col("lang"), col("j_band"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Embedding-cosine near-dup: vector pairs above a similarity
    * threshold, blocked on label (the cluster id a real pipeline
    * would block on) — count per label band. Uses the native fused
    * cosine expression.
    */
  val d6EmbeddingDup: Q = (s, d) => {
    val e = graft.sources.Tables.embeddings(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
                     col("label"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
                     col("label").as("b_label"))
    a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .withColumn("sim",
        round(graft.functions.VectorFunctions.cosineSim(col("a_e"), col("b_e")), 6))
      .filter(col("sim") > 0.5)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_neardup_pairs"),
           min(col("a_id")).as("min_a"))
  }

  /** Benchmark DECONTAMINATION — the cross-corpus n-gram leakage check
    * (train/eval hygiene) every LLM data pipeline runs before
    * training: treat one source slice as the held-out benchmark and
    * report, per language, how many TRAINING docs share at least one
    * 3-word shingle with it. Distinct from the self-join dedup family:
    * the shape is a cross-DATASET semi join, not candidate pairs.
    *
    * Scale shape: shingles ride the same 60-bit md5-prefix long
    * hashes as d8, so the leak check joins on primitive longs; the
    * benchmark side reduces to DISTINCT tokens only (real benchmark
    * sets are a few thousand docs — tiny next to a 100 TB corpus), so
    * AQE broadcasts the semi join: one pass over the train tokens, no
    * per-doc state, no all-pairs anything. The doc-level distinct
    * shuffles only (doc_id, lang) survivors.
    */
  /** (doc_id, lang, source, tok): 3-word shingles hashed to 60-bit
    * md5-prefix longs — the ONE token representation d8 and d11 share
    * (so they cannot silently diverge); sqlHash60 is its oracle twin.
    */
  private def hashedShingleToks(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
              expr("shingles(text, 3)").as("shingle"))
      // r14: the hex-substring-parse chain became the one-digest
      // md5_prefix kernel (Md5PrefixSpec pins value identity; the
      // oracle twin sqlHash60 is unchanged)
      .select(col("doc_id"), col("lang"), col("source"),
              graft.functions.VectorFunctions.md5Prefix(col("shingle"), 15)
                .as("tok"))
  }

  val d11Decontaminate: Q = (s, d) => {
    val toks = hashedShingleToks(s, d)
    val bench = toks.filter(col("source") === "src0")
      .select(col("tok")).distinct()
    val train = toks.filter(col("source") =!= "src0")
    train.join(bench, Seq("tok"), "left_semi")
      .select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_contaminated"), min(col("doc_id")).as("min_doc"))
  }

  /** Sub-document (paragraph/chunk-level) exact dedup — the C4-style
    * boilerplate pass: split each doc into consecutive 8-word chunks,
    * hash each chunk, and count chunks whose hash appears in MORE THAN
    * ONE document (cross-document boilerplate a cleaning pipeline
    * strips while keeping the host docs). Finer-grained than d1
    * (whole-doc) and orthogonal to d8 (similarity): it removes shared
    * substrings from otherwise-unique docs.
    *
    * Plan shape at 100 TB: explode to (chunk, doc) — ~n_words/8 rows
    * per doc — then ONE hash aggregation on the 128-bit chunk hash
    * (uniform key, no skew) and one shuffle join of chunks against
    * their per-hash doc counts on that same key; partitioning carries
    * from the agg to the join (ReuseExchange), so the corpus text
    * itself is never shuffled twice.
    */
  val d12ChunkDedup: Q = (s, d) => {
    val ch = docs(s, d)
      .select(col("doc_id"), col("source"),
        explode(expr(
          """transform(sequence(0, cast(ceil(size(ws) / 8.0) as int) - 1),
            |          i -> array_join(slice(ws, i*8 + 1, 8), ' '))""".stripMargin))
          .as("chunk"))
      .withColumn("ch_hash", md5(col("chunk")))
    val perHash = ch.groupBy(col("ch_hash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    ch.join(perHash, "ch_hash")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_chunks"),
           sum(when(col("nd") > 1, 1).otherwise(0)).as("n_boilerplate_chunks"))
  }

  /** Incremental dedup of a NEW BATCH against a historical corpus,
    * bloom-gated — the only shape that dedups a fresh crawl against
    * 100 TB of history without joining the full history: build one
    * bloom sketch over the history's content hashes (a distributed
    * aggregate whose result is a few MB of bits regardless of corpus
    * size), broadcast it onto the batch scan, and only bloom HITS need
    * the exact verification join. Uses Spark's own runtime-filter
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * registered by [[org.apache.spark.sql.graftnative.GraftNative]]) so
    * the probe is a codegen'd predicate in the scan stage.
    *
    * The batch is the held-out source plus a deterministic "re-crawl"
    * slice of history (every 17th doc, re-issued under a new id) —
    * cross-source exact dups don't exist in the synthetic corpus, and
    * a re-fetch is exactly what an incremental pipeline sees. Output
    * carries in-query SELF-CHECKS the oracle replays exactly (the
    * bloom BITS aren't portable, but the properties are): the exact
    * membership join runs UNGATED here and `n_false_neg` must be 0 —
    * the bloom no-false-negative property checked against ground
    * truth — and the registered query adds `fp_rate_ok` (FP ≤ 10% of
    * batch) while dropping the engine-specific raw hit count.
    * Production gates that join on `hit`; DedupSpec pins the
    * false-positive rate.
    */
  val d13BloomDedup: Q = (s, d) => {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    val docsDf = documents(s, d)
    val hist = docsDf.filter(col("source") =!= "src0")
    val batch = docsDf.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"), col("lang"))
      .unionAll(hist.filter(col("doc_id") % 17 === 0)
        // re-crawl rows live in the NEGATIVE id space: real doc_ids are
        // non-negative at any corpus size, so the synthetic batch ids
        // cannot collide no matter how large the corpus grows (a fixed
        // +1e8 offset would silently collide past 1e8 documents)
        .select((-col("doc_id") - 1).as("doc_id"),
                col("text"), col("lang")))
    // sized FROM the history count (one count job the build pass needs
    // anyway) so the hash-function count stays tuned as history grows:
    // 10 bits/item keeps FPR ~1% at any corpus size — the sketch grows
    // linearly in ITEMS but stays bits-per-item constant, which is the
    // actual scale contract (a fixed 200k bits would saturate to
    // FPR → 1 against a large history and un-gate the exact join).
    // The sketch is DRIVER-HELD and inlined as a binary literal —
    // `might_contain` requires a constant/scalar-subquery bloom (the
    // n5-centroids pattern: collected state independent of batch size)
    val estItems = math.max(20000L, hist.count())
    // bloom_filter_agg silently clamps estimatedNumItems/numBits to the
    // runtime-bloom-filter confs via Math.min — above ~6.7M history docs
    // the default caps (4M items / 67M bits) would quietly degrade the
    // bits-per-item ratio and the FPR would rise toward saturation.
    // Raise the caps to the requested sizing (never lowering them) so
    // the "10 bits/item at any corpus size" contract actually holds.
    def raiseConf(key: String, atLeast: Long): Unit = {
      val cur = s.conf.getOption(key).map(_.toLong).getOrElse(0L)
      if (cur < atLeast) s.conf.set(key, atLeast.toString)
    }
    raiseConf("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", estItems)
    raiseConf("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 10 * estItems)
    val bfBytes = hist.agg(expr(
      s"""bloom_filter_agg(xxhash64(text),
         |                 cast($estItems as bigint),
         |                 cast(${10 * estItems} as bigint))"""
        .stripMargin).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val histKeys = hist.select(md5(col("text")).as("h")).distinct()
    batch
      .withColumn("hit", call_function("might_contain",
        lit(bfBytes), xxhash64(col("text"))))
      .withColumn("h", md5(col("text")))
      .join(histKeys.withColumn("in_hist", lit(1)), Seq("h"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
           sum(col("hit").cast("long")).as("n_hits"),
           sum(when(col("in_hist") === 1, 1).otherwise(0)).as("n_true_dups"),
           sum(when(col("in_hist") === 1 && !col("hit"), 1).otherwise(0))
             .as("n_false_neg"))
      .withColumn("fn_free", col("n_false_neg") === 0)
  }

  /** SemDeDup — SEMANTIC dedup in embedding space (the
    * cluster-then-dedup-within-cluster recipe): assign every vector to
    * its nearest seed centroid by cosine (K=8, seeds = vectors 0..7 —
    * the same deterministic seeding as n5's k-means), then search for
    * near-duplicate pairs ONLY within a cell and drop the higher id of
    * each pair (min-id representative, the d1/t6 convention). Distinct
    * from d6: the blocking key is LEARNED (cluster structure), not a
    * given label — the production shape when no labels exist.
    *
    * Scale design: assignment is a pure map over the corpus (K-row
    * broadcast centroid table, argmax across K cosines — no shuffle);
    * the pair join shuffles on the cell id so candidate pairs are
    * per-cell only, (N/K)²·K vs all-pairs N² — and production K grows
    * with N (K ≈ √N keeps cells constant-sized), so the exponent is
    * controlled by the clusterer, not the corpus. Tie order and
    * float handling follow n5 exactly (csim DESC, cell ASC; float
    * corpus side × double centroid side, round(…, 6) on pair sims).
    */
  val d14SemDedup: Q = (s, d) => semDedup(s, d, k = 8)

  /** d23 — SemDeDup with the ADAPTIVE cell count d14's scale note
    * only documents: K = ceil(sqrt(N)), so cell size (N/K ≈ sqrt(N))
    * and therefore within-cell pair work per cell stay bounded as the
    * corpus grows. d14 keeps K=8 (its oracle pins those semantics and
    * its gate history stands), which makes each cell O(N) wide and the
    * pair search O(N²/K) — measured 20+ CPU-minutes per cell task at
    * sf10 (200k vectors, 25k-wide cells). Same seeding, assignment
    * tie order, threshold and min-id-keeper rule; the ONLY difference
    * is K, exactly the knob the production recipe scales with N. Total
    * pair work drops from N²/K (quadratic) to ~N·sqrt(N)
    * (sub-quadratic with constant-bounded cells), and the cell id
    * remains the shuffle key — no all-pairs stage at any scale.
    */
  val d23SemDedupAdaptive: Q = (s, d) => {
    val n = graft.sources.Tables.embeddings(s, d).count()
    semDedup(s, d, k = math.ceil(math.sqrt(n.toDouble)).toLong)
  }

  /** Nearest-of-K-seeds cell assignment shared by d14/d23/d24:
    * (vec_id, cell, emb, label) for every vector. Driver-held K-row
    * seed centroids (K fixed at 8 for d14; K=ceil(sqrt N) for
    * d23/d24 — still a codebook-sized collect, never corpus-sized);
    * tie order (csim DESC, cell ASC) matches every oracle's
    * row_number replay.
    *
    * Seeding is by RANK since r13: the K lowest EXISTING vec_ids
    * (TakeOrderedAndProject top-K — per-partition heads merged on the
    * driver, still a K-row collect), not `vec_id < k`. The r12 sf1000
    * investigation measured why the threshold form dies at scale: the
    * replicated deep corpora stride copy ids by 1e7, so past ~4M
    * vectors (k > 2000 = the dense copy-0 range) the effective seed
    * count SATURATED at 2000, cells re-widened to N/2000, and the
    * within-cell pair stage re-grew quadratically (~100G pair
    * enumerations at 20M vectors). Rank seeding is id-density-
    * independent: K seeds exist whenever K vectors do. On dense-id
    * corpora (every gate rung: ids 0..N-1) rank ≡ threshold, so all
    * committed gate rows are unchanged; the oracles replay the same
    * rank rule (row_number over vec_id).
    */
  private def cellAssigned(s: SparkSession, d: String, k: Long): DataFrame = {
    val e = graft.sources.Tables.embeddings(s, d)
    val cents = e.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(math.min(k, Int.MaxValue.toLong).toInt)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .sortBy(_._1).toSeq
    // assignment = ONE codegen'd map over the corpus (nearest_seed:
    // K cosines per row against the driver-held codebook literal).
    // The pre-r13 form — crossJoin(broadcast) + groupBy(vec_id) with
    // max_by(cell, struct(csim, -cell)) — was a 100-TB killer found
    // by CellStats at 6M vectors: the struct ordering forces
    // ObjectHashAggregate, whose partial aggregation falls back to
    // SORT-BASED after 128 distinct keys per partition, so the "map-
    // side partial" sorted the whole N×K product (>70 GB spill, job
    // death). Same csim arithmetic and (csim DESC, cell ASC) tie rule
    // as the oracles' row_number replay — see NearestSeed's scaladoc.
    e.select(col("vec_id"),
      graft.functions.VectorFunctions.nearestSeed(col("embedding"),
        typedLit(cents.map(_._1)), typedLit(cents.map(_._2))).as("cell"),
      col("embedding").as("emb"),
      col("label"))
  }

  /** d24 — d6's near-dup pair count with the quadratic block SPLIT by
    * the d23 adaptive cells: candidate pairs must share (label, cell)
    * instead of label alone, so block width drops from N/L (O(N),
    * 21,800 at sf10 → 2.0 BILLION pairs, the reason d6 has no sf10
    * gate row) to ~sqrt(N)-bounded. This is the standard
    * blocked-approximation trade — cross-cell near-dup pairs are
    * deliberately out of scope (DedupSpec pins blocked ⊆ exhaustive
    * per label on the test corpus) — in exchange for a pair stage
    * that scales like d23's, with (label, cell) as the shuffle key.
    * Threshold 0.30 (d23's family threshold, NOT d6's 0.5): under the
    * v2 embedding scheme the max within-label cosine at sf0.01 is
    * 0.475, so a 0.5 cut is vacuous at the driver's gate scale — d6
    * itself passes sf0.01 as an empty hash-match; this query must not
    * inherit that.
    */
  val d24EmbeddingDupCells: Q = (s, d) => {
    val n = graft.sources.Tables.embeddings(s, d).count()
    val asg = cellAssigned(s, d, math.ceil(math.sqrt(n.toDouble)).toLong)
    val a = asg.select(col("vec_id").as("a_id"), col("label"), col("cell"),
                       col("emb").as("a_e"))
    val b = asg.select(col("vec_id").as("b_id"), col("label").as("b_label"),
                       col("cell").as("b_cell"), col("emb").as("b_e"))
    a.join(b, col("label") === col("b_label") && col("cell") === col("b_cell")
              && col("a_id") < col("b_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosineSim(col("a_e"), col("b_e")), 6))
      .filter(col("sim") > 0.30)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_blocked_pairs"), min(col("a_id")).as("min_a"))
  }

  /** d25 — SemDeDup with HIERARCHICAL cell assignment: the stage d23
    * left super-linear. d23's flat assignment evaluates corpus ×
    * ceil(√N) cosines (~N^{3/2} work) and collects √N centroid rows to
    * the driver — fine to sf100, but both terms grow with the corpus.
    * Here the assignment is two bounded levels:
    *
    *  - level 1: K₁ = ceil(∛N) coarse seeds (the K₁ lowest existing
    *    vec_ids — the shared rank seeding rule), driver-collected —
    *    the ONLY collect, and it is N^{1/3} rows, sub-linear;
    *  - level 2: within each coarse cell of ~N^{2/3} members, the
    *    first ceil(√n_c) members by vec_id are that cell's sub-seeds
    *    (~N^{1/3} each, ~N^{2/3} total). The sub-seed table NEVER
    *    visits the driver: it derives from the level-1 assignment by
    *    a window rank and joins corpus rows on the coarse-cell id —
    *    executor-side state, broadcast or shuffled by Catalyst/AQE as
    *    its size dictates.
    *
    * Work: level-1 N·K₁ = N^{4/3}, level-2 N·√(N^{2/3}) = N^{4/3},
    * pair stage (cells ~∛N wide) ~N^{4/3} — every stage ~N·∛N versus
    * d23's N·√N, and driver state shrinks from √N to ∛N rows. Same
    * threshold (0.30), tie orders (csim DESC, seed-id ASC — level 2
    * casts sub-seed embeddings to double so the oracle's all-double
    * replay sees the same near-tie ordering as level 1's float×double
    * convention), and min-id keeper rule; report schema identical to
    * d23 so the two gate rows are directly comparable. Cross-(sub)cell
    * near-dup pairs are out of scope exactly as d23's cross-cell pairs
    * are — the hierarchy refines the blocking, it does not change the
    * approximation contract.
    */
  val d25SemDedupHier: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = graft.sources.Tables.embeddings(s, d)
    val n = e.count()
    val k1 = math.ceil(math.cbrt(n.toDouble)).toLong
    val coarse = cellAssigned(s, d, k1) // (vec_id, cell, emb, label)
    // sub-seed IDs from a SLIM window (2 longs per row through the
    // sort — never the embedding; the d8@sf30 oracle lesson applied
    // to the Spark side), then the embeddings fetched back by a
    // broadcast of the N^{2/3}-row id set
    val byCell = Window.partitionBy(col("cell"))
    val subIds = coarse.select(col("cell"), col("vec_id"))
      .withColumn("srk", row_number().over(byCell.orderBy(col("vec_id"))))
      .withColumn("nc", count(lit(1)).over(byCell))
      .filter(col("srk") <= ceil(sqrt(col("nc"))))
      .select(col("cell").as("s_cell"), col("vec_id").as("sid"))
    // one packed codebook row per coarse cell: sub-seed ids ascending
    // (sort_array on the struct orders by scell first — the tie rule)
    // with their double-cast embeddings positionally aligned. Packed
    // size is Σ√n_c ≈ N^{2/3} seeds × 520 B — 38 MB at 20M vectors.
    // No broadcast HINT on the assignment join below (r13 advice: a
    // hint is honored regardless of size, so past broadcastable scale
    // the failure mode would be executor OOM, not a fallback) — AQE
    // sees the aggregated codebook's true size at runtime and converts
    // to broadcast while it fits; past that the join genuinely falls
    // back to a shuffle on cell and the kernel is unchanged.
    val packed = coarse
      .select(col("vec_id").as("sid"),
              col("emb").cast("array<double>").as("se"))
      .join(broadcast(subIds), "sid")
      .groupBy(col("s_cell"))
      .agg(sort_array(collect_list(struct(col("sid").as("scell"),
                                          col("se")))).as("p"))
      .select(col("s_cell"),
              expr("transform(p, x -> x.scell)").as("scells"),
              expr("transform(p, x -> x.se)").as("ses"))
    // level-2 assignment: the same nearest_seed codegen map as level 1,
    // against the joined cell's packed codebook — no N×√n_c row
    // product, no struct-ordering aggregate (the ObjectHashAggregate
    // 128-key sort fallback that killed the level-1 form at 6M
    // vectors applied here identically). Corpus emb cast all-double
    // (r12 advice): numerically a no-op vs the kernel's own exact
    // widening, but the arithmetic now matches the oracle's
    // all-double replay by construction.
    val asg = coarse.join(packed, col("cell") === col("s_cell"))
      .select(col("vec_id"), col("cell"),
              graft.functions.VectorFunctions.nearestSeed(
                col("emb").cast("array<double>"),
                col("scells"), col("ses")).as("scell"),
              col("emb"), col("label"))
    val a = asg.select(col("vec_id").as("a_id"), col("cell"), col("scell"),
                       col("emb").as("a_e"))
    val b = asg.select(col("vec_id").as("b_id"), col("cell").as("b_cell"),
                       col("scell").as("b_scell"), col("emb").as("b_e"),
                       col("label").as("b_label"))
    val removed = a
      .join(b, col("cell") === col("b_cell")
               && col("scell") === col("b_scell")
               && col("a_id") < col("b_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosineSim(col("a_e"), col("b_e")), 6))
      .filter(col("sim") > 0.30)
      .select(col("b_label").as("label"), col("b_id")).distinct()
    val rc = removed.groupBy(col("label"))
      .agg(count(lit(1)).as("nr"), min(col("b_id")).as("min_removed"))
    val lc = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    lc.join(rc, Seq("label"), "left_outer")
      .select(col("label"), col("n_vecs"),
              coalesce(col("nr"), lit(0L)).as("n_removed"),
              (col("n_vecs") - coalesce(col("nr"), lit(0L))).as("n_kept"),
              col("min_removed"))
  }

  private def semDedup(s: SparkSession, d: String, k: Long): DataFrame = {
    import s.implicits._
    val e = graft.sources.Tables.embeddings(s, d)
    val assigned = cellAssigned(s, d, k)
    val a = assigned.select(col("vec_id").as("a_id"), col("cell"),
                            col("emb").as("a_e"))
    val b = assigned.select(col("vec_id").as("b_id"), col("cell").as("b_cell"),
                            col("emb").as("b_e"), col("label").as("b_label"))
    val removed = a
      .join(b, col("cell") === col("b_cell") && col("a_id") < col("b_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosineSim(col("a_e"), col("b_e")), 6))
      .filter(col("sim") > 0.30)
      .select(col("b_label").as("label"), col("b_id")).distinct()
    val rc = removed.groupBy(col("label"))
      .agg(count(lit(1)).as("nr"), min(col("b_id")).as("min_removed"))
    val lc = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    lc.join(rc, Seq("label"), "left_outer")
      .select(col("label"), col("n_vecs"),
              coalesce(col("nr"), lit(0L)).as("n_removed"),
              (col("n_vecs") - coalesce(col("nr"), lit(0L))).as("n_kept"),
              col("min_removed"))
  }

  /** Canonical-URL dedup — the crawl-frontier hygiene pass that runs
    * before any content op: the same page arrives under cosmetically
    * different URLs (mixed-case host, trailing slash, tracking params,
    * fragments), so URLs are CANONICALIZED (lowercase host, strip
    * fragment, drop utm_* tracking params, strip the trailing slash)
    * and fetches collapse onto the canonical form (min-doc_id
    * representative). The corpus has no URL column, so (as with t10's
    * planted PII and t15's synthesized hosts) each doc derives a
    * deterministic URL variant from its id — the operator under test
    * is the canonicalizer, exercised through Spark's native
    * `parse_url` (HOST/PATH/QUERY extraction), and the oracle replays
    * every rule. The path space is intentionally smaller than the doc
    * space (doc_id % 500) so distinct fetches genuinely collide.
    *
    * Scale shape: canonicalization is map-only; the collapse is ONE
    * hash aggregation on the canonical-url string — uniform keys, no
    * skew; the report is a K-row per-source rollup.
    */
  /** The d15 canonicalizer as a column function — IDEMPOTENT by
    * construction (DedupSpec pins canon(canon(u)) = canon(u)): the
    * rebuilt form is already lowercase-host, fragment-free,
    * tracking-free and slash-stripped, so a second pass is identity.
    */
  private[graft] def canonUrl(url: org.apache.spark.sql.Column) = concat(
    lit("https://"), lower(parse_url(url, lit("HOST"))),
    regexp_replace(parse_url(url, lit("PATH")), "/$", ""),
    coalesce(concat(lit("?id="), parse_url(url, lit("QUERY"), lit("id"))),
             lit("")))

  /** The deterministic synthetic crawl URL (documents carry no url
    * column): mixed-case host, trailing-slash/utm/fragment variants
    * planted by doc_id residue. Shared by d15, t18, and DedupSpec;
    * `sqlSyntheticUrl` is its oracle twin.
    */
  private[graft] def syntheticUrl: org.apache.spark.sql.Column = concat(
    lit("https://"),
    when(col("doc_id") % 4 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".Example.COM/docs/"), (col("doc_id") % 500).cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
         concat(lit("?utm_source=feed&id="), (col("doc_id") % 50).cast("string")))
      .when(col("doc_id") % 3 === 1, lit("#frag"))
      .otherwise(lit("")))

  private[graft] val sqlSyntheticUrl: String =
    """'https://' ||
      |    CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END ||
      |    '.Example.COM/docs/' || CAST(doc_id % 500 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0
      |           THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
      |         WHEN doc_id % 3 = 1 THEN '#frag' ELSE '' END""".stripMargin

  val d15UrlDedup: Q = (s, d) =>
    documents(s, d)
      .withColumn("url", syntheticUrl)
      .withColumn("canon", canonUrl(col("url")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("canon")).as("n_canonical"),
           (count(lit(1)) - countDistinct(col("canon"))).as("n_dups_removed"),
           min(col("canon")).as("first_canon"))

  /** Sketch-calibration eval — n7's index-quality measurement, for the
    * dedup family: over the LSH candidate pairs (d3/d9's band-join
    * edges), compare the MinHash ESTIMATE (matching permutations out
    * of 8) against the EXACT shingle-set Jaccard (basis points,
    * integer DIV), bucketed by estimate. This is the table a pipeline
    * owner reads before trusting a 100 TB dedup to the sketch: it
    * shows where the 8-permutation estimate is honest and how wide
    * its error band is at each level.
    *
    * Scale shape: pairs come from the BANDING (bounded by bucket
    * collisions, never all-pairs); the exact intersection is an
    * (id, shingle)-keyed join of only the candidate docs' shingle
    * sets — per-pair cost O(|A|+|B|), co-partitioned at scale; the
    * estimate is a zip of two 8-long arrays. Everything is integer
    * (match counts, basis points), so the rollup is order-proof.
    */
  val d16MinhashCalibration: Q = (s, d) => {
    // r14 optimization (guide §2.3/§2.4 + the d8-verify discipline):
    // the exact per-pair intersection used to be an (id, shingle)
    // EXPLODE joined twice against the candidate pairs and re-counted
    // per pair — two corpus-token-sized exchanges, a (a, b) count
    // aggregate and a left-outer re-join, all to produce |A ∩ B|.
    // Shingle sets now ride as VALUE-SORTED 60-bit md5-prefix longs
    // (the d8/d11 token representation, sorted once per doc) and the
    // pair intersection is the native zero-allocation two-pointer
    // merge (SortedIntersectSize) evaluated directly on the joined
    // pair row — the exploded exchanges, the pair-count aggregate and
    // the left join all disappear (plan: 6 exchanges of token rows →
    // the 2 candidate-side joins; see plans/r14/). Values are
    // identical: |A ∩ B| over the 60-bit hashes equals the string
    // intersection unless two distinct shingles collide in 2^60 — the
    // shingle space is vocab³-bounded (~30k distinct at any corpus
    // scale), the same no-collision argument d8 gates on at sf30.
    val base = docs(s, d)
      .withColumn("sh", expr(shinglesExpr))
      .select(col("doc_id"),
              graft.functions.VectorFunctions.minHash8(col("sh"), seedConsts)
                .as("mh"),
              array_sort(array_distinct(transform(col("sh"),
                x => graft.functions.VectorFunctions.md5Prefix(x, 15))))
                .as("st"))
      // two consumers (both sides of the pair join) of the expensive
      // shingle/md5/minhash map pass — materialize it once (the
      // d8-build lesson; one row per doc, but array-heavy → serialized)
      .transform(matSer)
    val bands = bandTable(s, d)
    val pairs = bands.toDF("a", "band").join(bands.toDF("b", "band_b"),
        col("band") === col("band_b") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    pairs
      .join(base.select(col("doc_id").as("a"), col("mh").as("ma"),
                        col("st").as("sa")), "a")
      .join(base.select(col("doc_id").as("b"), col("mh").as("mb"),
                        col("st").as("sb")), "b")
      .withColumn("ni", graft.functions.VectorFunctions
        .sortedIntersectSize(col("sa"), col("sb")).cast("long"))
      // r14 (guide §4): the 8-slot signature agreement as eight
      // codegen'd element comparisons instead of the interpreted
      // zip_with/aggregate fold (2 lambdas × 8 elements + an
      // intermediate array PER CANDIDATE PAIR — the hot grain here).
      // Semantics identical per element: `if(x = y, 1, 0)` counts a
      // null comparison as 0, exactly what WHEN(cond, 1).OTHERWISE(0)
      // does; the oracle replays the composed list_transform form
      // unchanged. ASSUMES minHash8's exactly-8-slot, never-NULL
      // signature arrays (r14 advice): a wider signature would be
      // silently under-counted by this fixed unroll (the composed
      // fold summed every slot), and a NULL array would yield
      // est_matches = 0 here where the composed fold propagated NULL
      // into its own group — revisit both if the signature width ever
      // changes.
      .withColumn("est_matches",
        (1 to 8).map(i =>
          when(element_at(col("ma"), i) === element_at(col("mb"), i), 1)
            .otherwise(0))
          .reduce(_ + _))
      .withColumn("true_bp",
        expr("(ni * 10000) DIV (size(sa) + size(sb) - ni)"))
      .groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"),
           expr("CAST(sum(true_bp) DIV count(1) AS BIGINT)").as("avg_true_bp"),
           min(col("true_bp")).as("min_true_bp"),
           max(col("true_bp")).as("max_true_bp"))
  }

  /** Character-level duplicated-substring detection — the
    * boilerplate/template-contamination measure that shingle dedup
    * (d3/d8) misses: two pages sharing a 32-char navigation header are
    * not near-duplicate DOCUMENTS, but the shared span still inflates
    * a training corpus. Each document emits fixed 32-char windows at
    * stride 16 (two windows cover every 16-char span, so any shared
    * run ≥ 47 chars is guaranteed to produce a colliding window); a
    * window is "duplicated" when its hash occurs in ≥ 2 distinct
    * documents. Reported per source as an integer-ppm duplicated
    * fraction — the per-crawl boilerplate dashboard.
    *
    * Scale shape: text leaves the scan as 32-byte md5 hex only (the
    * t14 slim-exchange discipline — the raw window never shuffles).
    * ONE exchange on `h` serves both the (h, doc) grain aggregation
    * and the distinct-doc count (a count over the h partition reuses
    * the agg's clustering — no second shuffle); the per-source rollup
    * shuffles K rows per doc. No all-pairs anything: a window shared
    * by k docs costs k rows, not k².
    */
  val d17SubstringDedup: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wins = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1, greatest(length(text) - 31, 1), 16)"))
          .as("pos"),
        col("text"))
      .select(col("doc_id"), col("source"),
        md5(expr("substring(text, pos, 32)")).as("h"))
    val perDoc = wins.groupBy(col("h"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n"))
    val flagged = perDoc.withColumn("nd",
      count(lit(1)).over(Window.partitionBy(col("h"))))
    flagged.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           sum(col("n")).as("n_windows"),
           sum(when(col("nd") >= 2, col("n")).otherwise(lit(0L)))
             .as("n_dup_windows"))
      .select(col("source"), col("n_docs"), col("n_windows"),
        col("n_dup_windows"),
        expr("(n_dup_windows * 1000000) DIV n_windows").as("dup_ppm"))
  }

  /** Content-defined chunking (the rsync/LBFS discipline; Muthitacharoen
    * et al., SOSP'01): chunk boundaries are WHERE THE CONTENT SAYS, not
    * at fixed offsets — a position starts a chunk when the hash of its
    * 8-char window lands in 1/16 of hash space — so an insertion early
    * in a document shifts only the chunk it lands in, while d12/d17's
    * fixed grids shift every downstream chunk. This is the dedup shape
    * that survives re-crawls with small edits. Chunks are identified by
    * content hash; a chunk is duplicated when it occurs in ≥ 2 distinct
    * documents; per-source stats report chunk count, byte mass and the
    * duplicated-mass ppm.
    *
    * Scale shape: the boundary scan is linear in corpus chars and runs
    * ENTIRELY inside one generated call per row — the native
    * `cdc_chunk_hashes` kernel (functions/CdcChunkHashes.scala) slides
    * the 8-char window over the UTF-8 bytes and emits the per-chunk
    * (md5, len) pairs directly, so nothing row-per-character ever
    * exists and no per-doc window shuffle reconstructs chunks (the
    * first cut of this operator exploded one row per char and paid a
    * lead() window; the kernel replaced both — same boundaries, same
    * oracle). The only exchange is the chunk-hash aggregate, reusing
    * d17's window-over-agg clustering trick.
    */
  val d18CdcChunks: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val chunks = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.VectorFunctions.cdcChunkHashes(col("text")))
          .as("c"))
      .select(col("doc_id"), col("source"),
        col("c.h").as("h"), col("c.len").cast("long").as("len"))
    val perDoc = chunks.groupBy(col("h"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("mass"))
    val flagged = perDoc.withColumn("nd",
      count(lit(1)).over(Window.partitionBy(col("h"))))
    flagged.groupBy(col("source"))
      .agg(sum(col("n")).as("n_chunks"),
           sum(col("mass")).as("chunk_mass"),
           sum(when(col("nd") >= 2, col("mass")).otherwise(lit(0L)))
             .as("dup_mass"))
      .select(col("source"), col("n_chunks"), col("chunk_mass"),
        col("dup_mass"),
        expr("(dup_mass * 1000000) DIV chunk_mass").as("dup_mass_ppm"))
  }

  /** Edit-distance (Levenshtein) near-dup — the character-level dedup
    * family's exact verifier, where d5/d8 verify by token-set Jaccard:
    * catches small in-place edits (typo fixes, appended bylines)
    * that token sets under-weigh. The corpus plants a deterministic
    * re-crawl: every doc_id % 5 == 0 doc returns with a 3-char suffix
    * (a true near-dup, distance 3) and every doc_id % 15 == 0 doc
    * with a 6-char suffix (distance 6 — planted to be REJECTED, so
    * both filters below provably bind). Candidate generation is
    * blocked, never all-pairs: equi-join on the 24-char prefix (the
    * shuffle key), then the classic length bound |len(a) − len(b)| ≤ k
    * prunes before any distance is computed — levenshtein's O(n·m)
    * cost is paid only inside surviving blocks. At 100 TB the block
    * key gains a length band (double-probe adjacent bands to keep the
    * bound exact); the join/verify shape is unchanged. Both engines
    * ship native levenshtein, so the oracle replays verbatim.
    */
  val d19EditDistance: Q = (s, d) => {
    // Variants keep their ORIGINAL doc_id plus an is_var flag (no
    // fixed id offset — +1,000,000 collides with real ids past 1M
    // docs); unordered-pair dedup orders lexicographically on
    // (doc_id, is_var) so the orig-vs-its-own-variant pair still
    // appears exactly once.
    val base = documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .withColumn("is_var", lit(false))
    val variants = base.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 15 === 0, concat(col("text"), lit(" rev 2")))
          .otherwise(concat(col("text"), lit(" v2"))).as("text"),
        lit(true).as("is_var"))
    val corpus = base.unionByName(variants)
      .withColumn("blk", substring(col("text"), 1, 24))
      .withColumn("len", length(col("text")))
    val lhs = corpus.select(col("blk"), col("doc_id").as("a_id"),
      col("is_var").as("a_var"),
      col("source"), col("text").as("a_text"), col("len").as("a_len"))
    val rhs = corpus.select(col("blk"), col("doc_id").as("b_id"),
      col("is_var").as("b_var"),
      col("text").as("b_text"), col("len").as("b_len"))
    lhs.join(rhs, Seq("blk"))
      .filter((col("a_id") < col("b_id") ||
               (col("a_id") === col("b_id") && !col("a_var") && col("b_var"))) &&
              abs(col("a_len") - col("b_len")) <= 4)
      // 3-arg levenshtein: banded O(n·k) DP with early exit, returns -1
      // past the threshold — the verifier cost is O(len·4), not
      // O(len²), exactly where random-text candidates would otherwise
      // pay the full matrix just to be rejected. Distances ≤ 4 are
      // exact, so the 2-arg oracle replay is unchanged.
      .withColumn("dist", levenshtein(col("a_text"), col("b_text"), 4))
      .filter(col("dist") >= 0 && col("dist") <= 4)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("dist")).cast("long").as("sum_dist"),
           min(col("a_id")).as("min_a"))
  }

  /** Contrastive training-pair mining over the dup-cluster graph —
    * what an embedding-model data pipeline builds FROM dedup output
    * instead of throwing the duplicates away: every same-cluster pair
    * is a POSITIVE (near-dups are free hard positives), and each
    * positive anchors one deterministic hash-mined NEGATIVE
    * ((a·7919 + b) mod n_docs — RNG-free, engine-replayable), kept
    * only if it provably lies outside the anchor's cluster (the
    * false-negative filter). Positive volume is bounded by cluster
    * sizes (LSH clusters are small by construction — no quadratic
    * blow-up), and negative validation is ONE hash join of the pair
    * table against the membership table: no sampling pass, no cross
    * join, nothing corpus-quadratic at 100 TB.
    */
  val d20ContrastivePairs: Q = (s, d) => {
    val mem = dupMembership(s, d) // (id, cluster)
    // n_docs stays INSIDE the plan (one-row aggregate, broadcast onto
    // the pair table) so query construction is lazy like every other
    // Q — no Spark job at plan-build time — and an empty corpus
    // degrades identically in both engines (no pairs → the modulo
    // never evaluates).
    val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val pos = mem.toDF("a", "ca").join(mem.toDF("b", "cb"),
        col("ca") === col("cb") && col("a") < col("b"))
      .select(col("a"), col("b"), col("ca").as("cluster"))
    val withNeg = pos
      .crossJoin(nd)
      .withColumn("neg", (col("a") * 7919L + col("b")) % col("n_docs"))
      .join(mem.toDF("neg", "cn"), Seq("neg"), "left")
      .withColumn("neg_ok", col("cn").isNull || col("cn") =!= col("cluster"))
    withNeg
      .join(documents(s, d).select(col("doc_id").as("a"), col("source")), "a")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pos"),
           sum(when(col("neg_ok"), 1L).otherwise(0L)).cast("long").as("n_neg"),
           min(col("a")).as("min_anchor"))
  }

  /** LSH index-quality evaluation against PLANTED ground truth — the
    * dedup twin of n7's ANN recall: every doc_id % 4 == 0 doc gets a
    * word-level-edit re-crawl variant (truncated to its first 2/3 of
    * words — shingle Jaccard ≈ 0.6, the regime where 4×2 banding is
    * genuinely probabilistic), and recall is the fraction of planted
    * (original, variant) pairs the d3/d9 banding actually puts in a
    * shared bucket. This is the measurement that justifies the band
    * configuration before anyone trusts d9's clusters — run per
    * corpus slice (source) because recall is a property of the DATA's
    * shingle distribution, not of the index alone. Same banding
    * expressions as d3/d9 (shared constants — the eval measures the
    * real index, not a copy), one exchange on the band, pair check =
    * equi-join on (band, planted-id offset): nothing all-pairs.
    */
  val d21LshRecall: Q = (s, d) => {
    // Variants ride an is_var FLAG, not an id offset: a fixed
    // +1,000,000 offset collides with real ids once the corpus passes
    // 1M docs (sf30 = 1.5M) and silently misclassifies originals as
    // variants — the flag is collision-proof at any scale.
    val base = docs(s, d).select(col("doc_id"), col("source"), col("ws"))
      .withColumn("is_var", lit(false))
    val variants = base.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("source"),
        expr("slice(ws, 1, greatest(size(ws) * 2 div 3, 1))").as("ws"),
        lit(true).as("is_var"))
    val corpus = base.unionByName(variants)
    val bands = corpus
      .withColumn("sh", expr(shinglesExpr))
      .select(col("doc_id"), col("is_var"),
              explode(bandArray(
                graft.functions.VectorFunctions.minHash8(col("sh"), seedConsts)))
                .as("band"))
    val origBands = bands
      .filter(!col("is_var") && col("doc_id") % 4 === 0)
      .select(col("doc_id").as("a"), col("band"))
    val varBands = bands.filter(col("is_var"))
      .select(col("doc_id").as("a"), col("band"))
    val recalled = origBands.join(varBands, Seq("a", "band"))
      .select(col("a")).distinct().withColumn("hit", lit(1L))
    base.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("a"), col("source"))
      .join(recalled, Seq("a"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_planted"),
           sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_recalled"),
           expr("CAST(sum(coalesce(hit, 0)) * 1000000 DIV count(1) AS BIGINT)")
             .as("recall_ppm"))
  }

  /** Nearest-duplicate report — the user-facing "what is this doc a
    * near-copy of" output a curation reviewer reads (d5 publishes the
    * pair HISTOGRAM; this publishes each doc's single best match):
    * every doc's argmax exact shingle-set Jaccard among its NEAR
    * DUPLICATES (Jaccard >= 0.7 — d8's threshold), integer ppm, tie →
    * smallest id, then the global top-20 most-similar pairs.
    *
    * Candidates come from d8's PREFIX-FILTERED machinery, not a
    * (lang, source, len_band) equi-block: block cardinality there is
    * FIXED (langs × sources × max_len/100 does not grow with the
    * corpus), so within-block pairs grow ~N² — fine at sf0.1, a
    * scale-killer at 100×. d8's candidate count is measured linear
    * (SCALECURVE d8_candidates exp 0.9993) and the prefix filter
    * GUARANTEES every Jaccard >= 0.7 pair is a candidate, so the
    * report is exact. Each unordered pair is verified ONCE (native
    * two-pointer intersect on value-sorted token arrays); only the
    * slim (a_id, b_id, jac_ppm) survivors are symmetrized for the
    * per-doc argmax window.
    */
  val d22BestMatch: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val (prefix, sets, parts) = d8Build(s, d)
    val oa = sets.select(col("doc_id").as("a_id"),
                         col("st").as("a_t"))
    val ob = sets.select(col("doc_id").as("b_id"),
                         col("st").as("b_t"))
    val scored = d8Candidates(prefix, parts)
      .join(oa, "a_id").join(ob, "b_id")
      .withColumn("inter",
        graft.functions.VectorFunctions.sortedIntersectSize(col("a_t"), col("b_t")))
      .withColumn("uni", size(col("a_t")) + size(col("b_t")) - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * 7)
      .select(col("a_id"), col("b_id"),
              expr("CAST(inter AS BIGINT) * 1000000 DIV uni").as("jac_ppm"))
      // scored feeds BOTH union branches below; without the cut the
      // entire candidate + verify join ran twice (the d8-build lesson
      // applied one level up — this was the whole d22-vs-d8 wall gap
      // at sf30). Survivors are the tiny >=0.7 set, so the
      // materialization is a few rows per duplicate pair.
      .localCheckpoint(eager = false)
    val sym = scored.union(
      scored.select(col("b_id").as("a_id"), col("a_id").as("b_id"), col("jac_ppm")))
    sym
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(col("jac_ppm").desc, col("b_id"))))
      .filter(col("rnk") === 1)
      .select(col("a_id"), col("b_id").as("best_id"), col("jac_ppm"))
      .orderBy(col("jac_ppm").desc, col("a_id"))
      .limit(20)
  }

  /** Batch analog of the streaming near-dup filter
    * ([[graft.streaming.StreamingNearDup]], StreamingNearDupSpec) —
    * the wb-family contract: the continuous operator's fold, replayed
    * over the full corpus so the oracle can gate it. Arrival order is
    * doc_id (the documents table carries no timestamp); a doc is
    * flagged iff any of its d3/d9 bands was claimed by an earlier
    * doc. Same banding constants as the batch index, same
    * band-partitioned shape (the window exchanges on the band key —
    * 4 slim rows per doc, never all-pairs).
    */
  val wb7NearDup: Q = (s, d) => {
    val verdicts = graft.streaming.StreamingNearDup.batchOracle(
      documents(s, d).select(col("doc_id"), col("doc_id").as("ts_ms"),
                             col("text")))
    verdicts
      .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
           coalesce(min(when(col("is_dup"), col("doc_id"))), lit(-1L))
             .as("first_dup"))
  }

  val queries: Map[String, Q] = Map(
    "wb7_near_dup" -> wb7NearDup,
    "d22_best_match" -> d22BestMatch,
    "d21_lsh_recall" -> d21LshRecall,
    "d20_contrastive_pairs" -> d20ContrastivePairs,
    "d19_edit_distance" -> d19EditDistance,
    "d18_cdc_chunks" -> d18CdcChunks,
    "d17_substring_dedup" -> d17SubstringDedup,
    "d16_minhash_calibration" -> d16MinhashCalibration,
    "d14_semdedup" -> d14SemDedup,
    "d23_semdedup_adaptive" -> d23SemDedupAdaptive,
    "d24_embedding_dup_cells" -> d24EmbeddingDupCells,
    "d25_semdedup_hier" -> d25SemDedupHier,
    "d15_url_dedup" -> d15UrlDedup,
    "d11_decontaminate" -> d11Decontaminate,
    "d12_chunk_dedup" -> d12ChunkDedup,
    // the PUBLISHED d13 drops the raw bloom hit count (FPR noise is
    // engine-specific — DuckDB cannot replay Spark's bloom bits) and
    // publishes the verdicts it feeds instead: fn_free (zero false
    // negatives against the ungated exact join) and fp_rate_ok (false
    // positives ≤ 10% of the batch, ~10× headroom over the measured
    // ~1% at 10 bits/item). Both replay in the oracle as literal TRUE
    // over exact counts, so the driver gate hash-checks the sketch
    // properties; DedupSpec pins the raw FPR on d13BloomDedup itself.
    "d13_bloom_dedup" -> ((s: SparkSession, d: String) =>
      d13BloomDedup(s, d)
        .withColumn("fp_rate_ok",
          (col("n_hits") - col("n_true_dups")) * 10 <= col("n_batch"))
        .drop("n_hits")),
    "d1_dedup_exact" -> d1Exact,
    "d2_minhash_sig" -> d2MinhashSig,
    "d3_minhash_buckets" -> d3MinhashBuckets,
    "d4_simhash" -> d4Simhash,
    "d5_jaccard_blocked" -> d5Jaccard,
    "d6_embedding_dup" -> d6EmbeddingDup,
    "d7_shingle_generator" -> d7ShingleGenerator,
    "d8_prefix_join" -> d8PrefixJoin,
    "d9_dup_clusters" -> d9DupClusters,
    "d10_curate_canonical" -> d10Curate,
  )

  private[operators] val sqlShingles =
    """CASE WHEN length(ws) < 3 THEN [array_to_string(ws, ' ')]
      |     ELSE list_transform(range(1, length(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END""".stripMargin

  /** Oracle twin of `hashedShingleToks`'s 60-bit token hash (d8 + d11). */
  private val sqlHash60 = "x -> ('0x' || substr(md5(x), 1, 15))::BIGINT"

  private val sqlBaseHashes =
    "list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)"

  // DuckDB ^ is POWER; bitwise xor is xor()
  private def sqlMh(j: Int) =
    s"list_min(list_transform(hs, h -> xor(h, ${seedConsts(j)})))"

  private def sqlBands: String = (0 until 4).map { b =>
    s"('$b:' || ${sqlMh(2 * b)} || '-' || ${sqlMh(2 * b + 1)})"
  }.mkString("[", ", ", "]")

  /** d9/d10 shared oracle prelude: LSH edges → recursive-CTE closure →
    * (id, cluster). Callers append their own SELECT over `cc`.
    */
  private def sqlClusterCtes: String =
    s"""WITH RECURSIVE t AS ($sqlDocs),
       |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
       |hs0 AS (SELECT doc_id, $sqlBaseHashes AS hs FROM s),
       |e0 AS (SELECT doc_id, unnest($sqlBands) AS band FROM hs0),
       |ed AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |       FROM e0 a JOIN e0 b ON a.band = b.band AND a.doc_id < b.doc_id),
       |sym AS (SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed),
       |nodes AS (SELECT DISTINCT a AS id FROM sym),
       |reach AS (
       |  SELECT id, id AS m FROM nodes
       |  UNION
       |  SELECT r.id, s2.b AS m FROM reach r JOIN sym s2 ON r.m = s2.a),
       |cc AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // per-doc argmax Jaccard among >=0.7 near-dups, global top-20.
    // Replays d8's prefix-filter candidate machinery (the prefix join
    // is a guaranteed superset of every >=0.7 pair, so the threshold
    // filter makes both engines' qualifying sets identical even though
    // Spark additionally applies the length/positional prunes).
    // Slim-row oracle shape (r9): the original form carried both
    // docs' FULL token lists through the candidate DISTINCT and
    // list_intersect'd per pair — DuckDB OOM'd (and once segfaulted)
    // on the list-heavy DISTINCT at 150k docs even with a spill dir,
    // while this engine's own rank-then-filter build (r8) avoids
    // exactly that. The oracle now mirrors it: rare-first prefix via
    // row_number (no ordered-list build), candidates as bare id
    // pairs, and the intersection size via an explode-join-count —
    // every wide intermediate is narrow fixed-size rows. Result
    // identical (same prefix order, same filters, same tie-breaks);
    // gated wherever the old form was.
    "d22_best_match" ->
      s"""WITH t AS ($sqlDocs),
         |ts AS (SELECT doc_id,
         |         list_sort(list_distinct(
         |           list_transform($sqlShingles, $sqlHash60))) AS ts
         |       FROM t),
         |e AS (SELECT doc_id, unnest(ts) AS tok FROM ts),
         |f AS (SELECT tok, count(1) AS freq FROM e GROUP BY tok),
         |n AS (SELECT doc_id, length(ts) AS n FROM ts),
         |rk AS (SELECT e.doc_id, e.tok, row_number() OVER (
         |         PARTITION BY e.doc_id ORDER BY f.freq, e.tok) AS rnk
         |       FROM e JOIN f USING (tok)),
         |pr AS (SELECT rk.doc_id, rk.tok
         |       FROM rk JOIN n USING (doc_id)
         |       WHERE rnk <= n.n - (n.n * 7 + 9) // 10 + 1),
         |c AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM pr a JOIN pr b ON a.tok = b.tok AND a.doc_id < b.doc_id),
         |j AS (SELECT c.a_id, c.b_id,
         |        length(list_intersect(ta.ts, tb.ts)) AS inter,
         |        length(ta.ts) + length(tb.ts)
         |          - length(list_intersect(ta.ts, tb.ts)) AS uni
         |      FROM c
         |      JOIN ts ta ON ta.doc_id = c.a_id
         |      JOIN ts tb ON tb.doc_id = c.b_id),
         |q AS (SELECT a_id, b_id,
         |        CAST(inter AS BIGINT) * 1000000 // uni AS jac_ppm
         |      FROM j WHERE 10 * inter >= 7 * uni),
         |sym AS (SELECT a_id, b_id, jac_ppm FROM q
         |        UNION ALL SELECT b_id, a_id, jac_ppm FROM q),
         |r AS (SELECT *, row_number() OVER (PARTITION BY a_id
         |        ORDER BY jac_ppm DESC, b_id) AS rnk FROM sym)
         |SELECT a_id, b_id AS best_id, CAST(jac_ppm AS BIGINT) AS jac_ppm
         |FROM r WHERE rnk = 1
         |ORDER BY jac_ppm DESC, a_id LIMIT 20""".stripMargin,
    // planted word-drop variants through the SAME banding constants
    "d21_lsh_recall" ->
      s"""WITH t AS ($sqlDocs),
         |base AS (SELECT doc_id, source, ws, FALSE AS is_var FROM t),
         |var AS (SELECT doc_id, source,
         |          ws[1:greatest(length(ws) * 2 // 3, 1)] AS ws,
         |          TRUE AS is_var
         |        FROM base WHERE doc_id % 4 = 0),
         |c AS (SELECT * FROM base UNION ALL SELECT * FROM var),
         |sng AS (SELECT doc_id, is_var, $sqlShingles AS sh FROM c),
         |hs0 AS (SELECT doc_id, is_var, $sqlBaseHashes AS hs FROM sng),
         |e0 AS (SELECT doc_id, is_var, unnest($sqlBands) AS band FROM hs0),
         |rec AS (SELECT DISTINCT a.doc_id AS a
         |        FROM e0 a JOIN e0 b ON a.band = b.band
         |          AND b.doc_id = a.doc_id
         |          AND NOT a.is_var AND b.is_var
         |        WHERE a.doc_id % 4 = 0),
         |p AS (SELECT b.doc_id AS a, b.source,
         |        CASE WHEN rec.a IS NULL THEN 0 ELSE 1 END AS hit
         |      FROM base b LEFT JOIN rec ON rec.a = b.doc_id
         |      WHERE b.doc_id % 4 = 0)
         |SELECT source, count(1) AS n_planted,
         |  CAST(sum(hit) AS BIGINT) AS n_recalled,
         |  CAST(sum(hit) * 1000000 // count(1) AS BIGINT) AS recall_ppm
         |FROM p GROUP BY source""".stripMargin,
    // cluster CTEs (d9's closure) + pair build + hash-mined negatives
    "d20_contrastive_pairs" ->
      s"""$sqlClusterCtes,
         |nd AS (SELECT count(1) AS n FROM documents),
         |pos AS (SELECT a.id AS a, b.id AS b, a.cluster AS cluster
         |        FROM cc a JOIN cc b
         |          ON a.cluster = b.cluster AND a.id < b.id),
         |wn AS (SELECT pos.*, (a * 7919 + b) % nd.n AS neg
         |       FROM pos CROSS JOIN nd),
         |ok AS (SELECT wn.*,
         |         CASE WHEN c2.cluster IS NULL OR c2.cluster <> wn.cluster
         |              THEN 1 ELSE 0 END AS neg_ok
         |       FROM wn LEFT JOIN cc c2 ON c2.id = wn.neg)
         |SELECT d.source, count(1) AS n_pos,
         |  CAST(sum(neg_ok) AS BIGINT) AS n_neg, min(a) AS min_anchor
         |FROM ok JOIN documents d ON d.doc_id = ok.a
         |GROUP BY d.source""".stripMargin,
    // planted re-crawl + prefix blocking + length bound + levenshtein,
    // replayed verbatim (both engines ship the native function)
    "d19_edit_distance" ->
      """WITH v AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 15 = 0 THEN text || ' rev 2'
        |         ELSE text || ' v2' END AS text,
        |    TRUE AS is_var
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT doc_id, source, text, FALSE AS is_var FROM documents
        |      UNION ALL SELECT doc_id, source, text, is_var FROM v),
        |k AS (SELECT *, substr(text, 1, 24) AS blk, length(text) AS len
        |      FROM c),
        |p AS (SELECT a.source, a.doc_id AS a_id,
        |        levenshtein(a.text, b.text) AS dist
        |      FROM k a JOIN k b ON a.blk = b.blk
        |        AND (a.doc_id < b.doc_id
        |             OR (a.doc_id = b.doc_id AND NOT a.is_var AND b.is_var))
        |        AND abs(a.len - b.len) <= 4)
        |SELECT source, count(1) AS n_pairs,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist, min(a_id) AS min_a
        |FROM p WHERE dist <= 4 GROUP BY source""".stripMargin,
    "d18_cdc_chunks" ->
      """WITH pos AS (
        |  SELECT doc_id, source, text,
        |    unnest(generate_series(1, greatest(length(text) - 7, 1))) AS p
        |  FROM documents),
        |bounds AS (
        |  SELECT doc_id, source, text, p FROM pos
        |  WHERE p = 1
        |     OR substr(md5(substr(text, CAST(p AS INT), 8)), 1, 1) = '0'),
        |chunks AS (
        |  SELECT doc_id, source,
        |    substr(text, CAST(p AS INT),
        |           CAST(coalesce(lead(p) OVER
        |                  (PARTITION BY doc_id ORDER BY p),
        |                length(text) + 1) - p AS INT)) AS chunk
        |  FROM bounds),
        |ch AS (SELECT doc_id, source, md5(chunk) AS h,
        |              length(chunk) AS len FROM chunks),
        |wd AS (SELECT h, doc_id, source, count(1) AS n,
        |              CAST(sum(len) AS BIGINT) AS mass
        |       FROM ch GROUP BY 1, 2, 3),
        |f AS (SELECT *, count(1) OVER (PARTITION BY h) AS nd FROM wd)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_chunks,
        |  CAST(sum(mass) AS BIGINT) AS chunk_mass,
        |  CAST(sum(CASE WHEN nd >= 2 THEN mass ELSE 0 END) AS BIGINT)
        |    AS dup_mass,
        |  CAST((sum(CASE WHEN nd >= 2 THEN mass ELSE 0 END) * 1000000)
        |       // sum(mass) AS BIGINT) AS dup_mass_ppm
        |FROM f GROUP BY source""".stripMargin,
    "d17_substring_dedup" ->
      """WITH pos AS (
        |  SELECT doc_id, source, text,
        |    unnest(generate_series(1, greatest(length(text) - 31, 1), 16))
        |      AS s
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source,
        |         md5(substr(text, CAST(s AS INT), 32)) AS h
        |  FROM pos),
        |wd AS (SELECT h, doc_id, source, count(1) AS n
        |       FROM w GROUP BY 1, 2, 3),
        |f AS (SELECT *, count(1) OVER (PARTITION BY h) AS nd FROM wd)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST((sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) * 1000000)
        |       // sum(n) AS BIGINT) AS dup_ppm
        |FROM f GROUP BY source""".stripMargin,
    // full replay: bands → candidate pairs, distinct-shingle join for
    // exact Jaccard, xor-permutation zip for the estimate, integer
    // basis-point rollup by estimate level
    "d16_minhash_calibration" -> {
      val mhList = (0 until 8).map(sqlMh).mkString("[", ", ", "]")
      val bands = (0 until 4).map { b =>
        s"('$b:' || ${sqlMh(2 * b)} || '-' || ${sqlMh(2 * b + 1)})"
      }.mkString("[", ", ", "]")
      s"""WITH t AS ($sqlDocs),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |hs0 AS (SELECT doc_id, $sqlBaseHashes AS hs,
         |               list_distinct(sh) AS shd FROM s),
         |mh AS (SELECT doc_id, $mhList AS mh, len(shd) AS nsh, shd FROM hs0),
         |e AS (SELECT doc_id, unnest($bands) AS band FROM hs0),
         |p AS (SELECT e1.doc_id AS a, e2.doc_id AS b FROM e e1
         |      JOIN e e2 ON e1.band = e2.band AND e1.doc_id < e2.doc_id
         |      GROUP BY 1, 2),
         |ex AS (SELECT doc_id, unnest(shd) AS tk FROM mh),
         |io AS (SELECT p.a, p.b, count(1) AS ni FROM p
         |       JOIN ex xa ON xa.doc_id = p.a
         |       JOIN ex xb ON xb.doc_id = p.b AND xb.tk = xa.tk
         |       GROUP BY 1, 2),
         |pr AS (SELECT p.a, p.b, coalesce(io.ni, 0) AS ni
         |       FROM p LEFT JOIN io USING (a, b)),
         |j AS (SELECT pr.a, pr.b,
         |        CAST(list_sum(list_transform(list_zip(ma.mh, mb.mh),
         |          q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END))
         |             AS INTEGER) AS est_matches,
         |        (pr.ni * 10000) // (ma.nsh + mb.nsh - pr.ni) AS true_bp
         |      FROM pr JOIN mh ma ON ma.doc_id = pr.a
         |      JOIN mh mb ON mb.doc_id = pr.b)
         |SELECT est_matches, count(1) AS n_pairs,
         |  CAST(sum(true_bp) // count(1) AS BIGINT) AS avg_true_bp,
         |  min(true_bp) AS min_true_bp, max(true_bp) AS max_true_bp
         |FROM j GROUP BY 1""".stripMargin
    },
    // seed-centroid assignment replayed like n5's oracle (same double
    // left-fold dot/norm, same csim DESC, cell ASC tie order), then the
    // within-cell pair search and min-id-keeper rule in plain SQL.
    // Seeds are the K lowest EXISTING vec_ids (rank, r13 — matches
    // cellAssigned's top-K; identical to the old id threshold on
    // dense-id corpora), ranked over the slim vec_id projection so no
    // embedding array rides the window sort
    "d14_semdedup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |sd AS (SELECT vec_id FROM (SELECT vec_id FROM embeddings)
        |       QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
        |c0 AS (SELECT e.vec_id AS cell, e.emb AS ce FROM e JOIN sd USING (vec_id)),
        |a0 AS (SELECT e.vec_id, e.label, e.emb, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_sum(list_transform(list_zip(e.emb, c.ce), p -> p[1]*p[2])) /
        |                    (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |                     sqrt(list_sum(list_transform(c.ce, x -> x*x)))) DESC,
        |             c.cell) AS rn
        |       FROM e CROSS JOIN c0 c),
        |asg AS (SELECT vec_id, label, emb, cell FROM a0 WHERE rn = 1),
        |pr AS (SELECT b.label, b.vec_id AS b_id
        |       FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |       WHERE round(list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2])) /
        |                   (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
        |                    sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 6) > 0.30
        |       GROUP BY b.label, b.vec_id),
        |rc AS (SELECT label, count(1) AS nr, min(b_id) AS min_removed FROM pr GROUP BY label),
        |lc AS (SELECT label, count(1) AS n_vecs FROM e GROUP BY label)
        |SELECT lc.label, lc.n_vecs,
        |  CAST(coalesce(rc.nr, 0) AS BIGINT) AS n_removed,
        |  CAST(lc.n_vecs - coalesce(rc.nr, 0) AS BIGINT) AS n_kept,
        |  rc.min_removed
        |FROM lc LEFT JOIN rc USING (label)""".stripMargin,
    // d14's oracle with the one parameter that defines d23 — the seed
    // cutoff is ceil(sqrt(N)) instead of the literal 8 — PLUS the d22
    // slim-CTE discipline: at sf10 the assignment cross join is 90M
    // rows (200k vectors × 448 cells), and d14's oracle shape carries
    // BOTH embedding arrays through the window sort (~1 KB/row → 90 GB
    // of DuckDB spill; it filled /tmp and failed the first sf10 gate
    // attempt). The window here ranks over (vec_id, cell, csim) only
    // and the kept row re-joins its embedding afterwards.
    // Norms are HOISTED into `en` (r14, for the sf30 gate): the same
    // sqrt(list_sum(...x*x)) double per vector, computed ONCE instead
    // of K times in the N×K assignment and twice per pair — value-
    // identical by construction (the dot's lambda arithmetic is
    // untouched; only the reuse of an already-identical factor
    // changes), and it cuts the 600k-vector oracle's lambda work ~3×.
    "d23_semdedup_adaptive" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |en AS (SELECT vec_id, label, emb,
        |         sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
        |sd AS (SELECT vec_id FROM (SELECT vec_id FROM embeddings)
        |       QUALIFY row_number() OVER (ORDER BY vec_id)
        |               <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
        |c0 AS (SELECT en.vec_id AS cell, en.emb AS ce, en.nrm AS cn
        |       FROM en JOIN sd USING (vec_id)),
        |a0 AS (SELECT en.vec_id, c.cell,
        |         list_sum(list_transform(list_zip(en.emb, c.ce), p -> p[1]*p[2])) /
        |           (en.nrm * c.cn) AS csim
        |       FROM en CROSS JOIN c0 c),
        |r AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY csim DESC, cell) AS rn
        |      FROM a0),
        |asg AS (SELECT en.vec_id, en.label, en.emb, en.nrm, r.cell
        |        FROM r JOIN en ON r.vec_id = en.vec_id WHERE r.rn = 1),
        |pr AS (SELECT b.label, b.vec_id AS b_id
        |       FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |       WHERE round(list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2])) /
        |                   (a.nrm * b.nrm), 6) > 0.30
        |       GROUP BY b.label, b.vec_id),
        |rc AS (SELECT label, count(1) AS nr, min(b_id) AS min_removed FROM pr GROUP BY label),
        |lc AS (SELECT label, count(1) AS n_vecs FROM e GROUP BY label)
        |SELECT lc.label, lc.n_vecs,
        |  CAST(coalesce(rc.nr, 0) AS BIGINT) AS n_removed,
        |  CAST(lc.n_vecs - coalesce(rc.nr, 0) AS BIGINT) AS n_kept,
        |  rc.min_removed
        |FROM lc LEFT JOIN rc USING (label)""".stripMargin,
    // d23's slim CTEs extended one level down: coarse assignment
    // (seed cutoff ceil(cbrt N)), sub-seeds = first ceil(sqrt n_c)
    // members per coarse cell by vec_id, second ranked assignment
    // within the coarse cell, then d23's pair search/keeper/report on
    // the (cell, scell) block. Embeddings never enter a window sort —
    // both ranked CTEs carry (vec_id, cell[, scell], csim) only and
    // the kept rows re-join their arrays afterwards.
    "d25_semdedup_hier" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |en AS (SELECT vec_id, label, emb,
        |         sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
        |sd AS (SELECT vec_id FROM (SELECT vec_id FROM embeddings)
        |       QUALIFY row_number() OVER (ORDER BY vec_id)
        |               <= (SELECT CAST(ceil(cbrt(count(*))) AS BIGINT) FROM embeddings)),
        |c0 AS (SELECT en.vec_id AS cell, en.emb AS ce, en.nrm AS cn
        |       FROM en JOIN sd USING (vec_id)),
        |a0 AS (SELECT en.vec_id, c.cell,
        |         list_sum(list_transform(list_zip(en.emb, c.ce), p -> p[1]*p[2])) /
        |           (en.nrm * c.cn) AS csim
        |       FROM en CROSS JOIN c0 c),
        |r AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY csim DESC, cell) AS rn
        |      FROM a0),
        |cg AS (SELECT vec_id, cell FROM r WHERE rn = 1),
        |sk AS (SELECT cell, vec_id AS scell,
        |         row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS srk,
        |         count(*) OVER (PARTITION BY cell) AS nc
        |       FROM cg),
        |ss AS (SELECT s.cell, s.scell, en.emb AS se, en.nrm AS sn
        |       FROM sk s JOIN en ON en.vec_id = s.scell
        |       WHERE s.srk <= CAST(ceil(sqrt(s.nc)) AS BIGINT)),
        |a2 AS (SELECT g.vec_id, g.cell, s.scell,
        |         list_sum(list_transform(list_zip(en.emb, s.se), p -> p[1]*p[2])) /
        |           (en.nrm * s.sn) AS csim
        |       FROM cg g JOIN en ON en.vec_id = g.vec_id
        |       JOIN ss s ON s.cell = g.cell),
        |r2 AS (SELECT vec_id, cell, scell,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY csim DESC, scell) AS rn
        |       FROM a2),
        |asg AS (SELECT en.vec_id, en.label, en.emb, en.nrm, r2.cell, r2.scell
        |        FROM r2 JOIN en ON en.vec_id = r2.vec_id WHERE r2.rn = 1),
        |pr AS (SELECT b.label, b.vec_id AS b_id
        |       FROM asg a JOIN asg b
        |         ON a.cell = b.cell AND a.scell = b.scell
        |            AND a.vec_id < b.vec_id
        |       WHERE round(list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2])) /
        |                   (a.nrm * b.nrm), 6) > 0.30
        |       GROUP BY b.label, b.vec_id),
        |rc AS (SELECT label, count(1) AS nr, min(b_id) AS min_removed FROM pr GROUP BY label),
        |lc AS (SELECT label, count(1) AS n_vecs FROM e GROUP BY label)
        |SELECT lc.label, lc.n_vecs,
        |  CAST(coalesce(rc.nr, 0) AS BIGINT) AS n_removed,
        |  CAST(lc.n_vecs - coalesce(rc.nr, 0) AS BIGINT) AS n_kept,
        |  rc.min_removed
        |FROM lc LEFT JOIN rc USING (label)""".stripMargin,
    // d23's slim assignment CTEs + d6's pair predicate, re-blocked on
    // (label, cell) — the blocked-approximation twin of d6's oracle
    "d24_embedding_dup_cells" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |en AS (SELECT vec_id, label, emb,
        |         sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
        |sd AS (SELECT vec_id FROM (SELECT vec_id FROM embeddings)
        |       QUALIFY row_number() OVER (ORDER BY vec_id)
        |               <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
        |c0 AS (SELECT en.vec_id AS cell, en.emb AS ce, en.nrm AS cn
        |       FROM en JOIN sd USING (vec_id)),
        |a0 AS (SELECT en.vec_id, c.cell,
        |         list_sum(list_transform(list_zip(en.emb, c.ce), p -> p[1]*p[2])) /
        |           (en.nrm * c.cn) AS csim
        |       FROM en CROSS JOIN c0 c),
        |r AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY csim DESC, cell) AS rn
        |      FROM a0),
        |asg AS (SELECT en.vec_id, en.label, en.emb, en.nrm, r.cell
        |        FROM r JOIN en ON r.vec_id = en.vec_id WHERE r.rn = 1),
        |p AS (SELECT a.label, a.vec_id AS a_id,
        |        round(list_sum(list_transform(list_zip(a.emb, b.emb), z -> z[1]*z[2])) /
        |              (a.nrm * b.nrm), 6) AS sim
        |      FROM asg a JOIN asg b
        |        ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT label, count(1) AS n_blocked_pairs, min(a_id) AS min_a
        |FROM p WHERE sim > 0.30 GROUP BY label""".stripMargin,
    // the URL builder and every canonicalization rule replayed with
    // regexes (the same HOST/PATH/QUERY splits parse_url performs)
    "d15_url_dedup" ->
      s"""WITH u AS (
        |  SELECT doc_id, source,
        |    $sqlSyntheticUrl AS url
        |  FROM documents),
        |c AS (SELECT source,
        |  'https://' || lower(regexp_extract(url, 'https://([^/]+)/', 1)) ||
        |  regexp_replace(regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1), '/$$', '') ||
        |  CASE WHEN regexp_extract(url, '[?&]id=([0-9]*)', 1) <> ''
        |       THEN '?id=' || regexp_extract(url, '[?&]id=([0-9]*)', 1)
        |       ELSE '' END AS canon
        |  FROM u)
        |SELECT source, count(1) AS n_urls,
        |  count(DISTINCT canon) AS n_canonical,
        |  count(1) - count(DISTINCT canon) AS n_dups_removed,
        |  min(canon) AS first_canon
        |FROM c GROUP BY source""".stripMargin,
    // the streaming near-dup filter's fold replayed over the corpus:
    // same shingle/hash/band pipeline as d3/d9's oracles, band claimed
    // by its earliest (doc-id-ordered) member, later members flagged
    "wb7_near_dup" ->
      s"""WITH t AS ($sqlDocs),
         |s AS (SELECT doc_id, lang, $sqlShingles AS sh FROM t),
         |hs0 AS (SELECT doc_id, lang, $sqlBaseHashes AS hs FROM s),
         |b AS (SELECT doc_id, lang, unnest($sqlBands) AS band FROM hs0),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY band ORDER BY doc_id) AS rn FROM b),
         |v AS (SELECT doc_id, lang,
         |        max(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS is_dup
         |      FROM r GROUP BY doc_id, lang)
         |SELECT lang, count(1) AS n_docs,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |  CAST(coalesce(min(CASE WHEN is_dup = 1 THEN doc_id END), -1)
         |       AS BIGINT) AS first_dup
         |FROM v GROUP BY lang""".stripMargin,
    // bloom bits aren't portable, but d13's published columns are all
    // sketch-INDEPENDENT: exact batch/dup counts plus the two verdicts
    // (no false negatives; FP ≤ 10% of batch) the bloom must satisfy —
    // replayed here as exact counts + literal TRUE
    "d13_bloom_dedup" ->
      """WITH hist AS (SELECT * FROM documents WHERE source <> 'src0'),
        |batch AS (
        |  SELECT doc_id, text, lang FROM documents WHERE source = 'src0'
        |  UNION ALL
        |  SELECT -doc_id - 1 AS doc_id, text, lang FROM hist
        |  WHERE doc_id % 17 = 0),
        |hk AS (SELECT DISTINCT md5(text) AS h FROM hist)
        |SELECT lang, count(1) AS n_batch,
        |  CAST(sum(CASE WHEN hk.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true_dups,
        |  CAST(0 AS BIGINT) AS n_false_neg,
        |  TRUE AS fn_free, TRUE AS fp_rate_ok
        |FROM batch b LEFT JOIN hk ON md5(b.text) = hk.h
        |GROUP BY lang""".stripMargin,
    "d12_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, source,
        |             regexp_split_to_array(trim(text), '\s+') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, source,
        |        unnest(list_transform(range(0, CAST(ceil(length(ws) / 8.0) AS INT)),
        |               i -> array_to_string(ws[i*8 + 1 : i*8 + 8], ' '))) AS chunk
        |      FROM t),
        |g AS (SELECT md5(chunk) AS ch_hash, count(DISTINCT doc_id) AS nd
        |      FROM c GROUP BY 1)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        |  count(1) AS n_chunks,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boilerplate_chunks
        |FROM c JOIN g ON md5(c.chunk) = g.ch_hash
        |GROUP BY source""".stripMargin,
    "d11_decontaminate" ->
      s"""WITH t AS ($sqlDocs),
         |s AS (SELECT doc_id, lang, source,
         |        list_transform($sqlShingles, $sqlHash60) AS tk
         |      FROM t),
         |b AS (SELECT DISTINCT unnest(tk) AS tok FROM s WHERE source = 'src0'),
         |tr AS (SELECT doc_id, lang, unnest(tk) AS tok FROM s
         |       WHERE source <> 'src0'),
         |c AS (SELECT DISTINCT doc_id, lang FROM tr
         |      WHERE tok IN (SELECT tok FROM b))
         |SELECT lang, CAST(count(1) AS BIGINT) AS n_contaminated,
         |       min(doc_id) AS min_doc
         |FROM c GROUP BY lang""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT lang, count(1) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        | count(1) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY lang""".stripMargin,
    "d2_minhash_sig" -> {
      val sig = (0 until 8).map(sqlMh).mkString("concat_ws('-', ", ", ", ")")
      s"""WITH t AS ($sqlDocs),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |hs0 AS (SELECT doc_id, $sqlBaseHashes AS hs FROM s)
         |SELECT doc_id, $sig AS minhash_sig FROM hs0""".stripMargin
    },
    "d3_minhash_buckets" -> {
      val bands = (0 until 4).map { b =>
        s"('$b:' || ${sqlMh(2 * b)} || '-' || ${sqlMh(2 * b + 1)})"
      }.mkString("[", ", ", "]")
      s"""WITH t AS ($sqlDocs),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |hs0 AS (SELECT doc_id, $sqlBaseHashes AS hs FROM s),
         |e AS (SELECT doc_id, unnest($bands) AS band FROM hs0),
         |g AS (SELECT band, count(1) AS n_docs FROM e GROUP BY band)
         |SELECT count(1) AS n_buckets,
         |  CAST(sum(n_docs * (n_docs - 1) / 2) AS BIGINT) AS n_candidate_pairs,
         |  max(n_docs) AS max_bucket
         |FROM g WHERE n_docs > 1""".stripMargin
    },
    "d4_simhash" ->
      s"""WITH t AS ($sqlDocs)
         |SELECT doc_id, lang,
         |  CAST(list_sum(list_transform(range(0, 16), b ->
         |    CASE WHEN list_sum(list_transform(ws, tk ->
         |           ((('0x' || substr(md5(tk), 1, 4))::BIGINT >> b) & 1) * 2 - 1)) > 0
         |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM t""".stripMargin,
    "d5_jaccard_blocked" ->
      s"""WITH t0 AS ($sqlDocs),
         |t AS (SELECT doc_id, lang, source, n_chars - n_chars % 100 AS len_band,
         |             list_sort(list_distinct(ws)) AS toks FROM t0),
         |p AS (SELECT a.lang, length(list_intersect(a.toks, b.toks)) AS inter,
         |             length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks)) AS uni
         |      FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
         |        AND a.len_band = b.len_band AND a.doc_id < b.doc_id)
         |SELECT lang, CAST(floor(inter * 10.0 / uni) AS BIGINT) AS j_band, count(1) AS n_pairs
         |FROM p WHERE floor(inter * 10.0 / uni) >= 5
         |GROUP BY lang, j_band""".stripMargin,
    // The oracle mirrors the ENGINE's candidate machinery exactly —
    // r10 rewrite after the sf10 gate OOM'd/segfaulted DuckDB twice,
    // r12 re-shaped for the sf30 rung (the r10 form fit sf10 inside
    // 70 GB but OOM'd DuckDB's reservation accounting within minutes
    // at sf30 on four configurations, RSS only ~24 GB — the early
    // blow-up is the `o` ordered LIST AGGREGATION, a 225M-row sort
    // into per-doc lists):
    // (a) the rare-first prefix comes from a row_number WINDOW over
    // the exploded (doc, tok) rows — d22's discipline, spillable,
    // never building an ordered-list column: `otoks` was just the
    // (freq, tok)-ordered permutation, so rank rnk ≤ plen selects
    // exactly the old list_slice prefix and pos = rnk − 1;
    // (b) the PPJoin LENGTH (10·|A| ≥ 7·|B| both ways) and POSITIONAL
    // (17·min(na−pa, nb−pb) ≥ 7·(na+nb)) filters ride the join, so
    // DuckDB's candidate set is the engine's 3.33M pairs at sf10, not
    // the 20.2M raw prefix matches (result-identical: the filters
    // never drop a qualifying pair's first-common-token row);
    // (c) multi-consumer CTEs (ts, pr) are MATERIALIZED (DuckDB 1.0
    // re-inlines per consumer without the hint — duplicating the rank
    // subtree into the verify joins is what exhausted memory in r10);
    // the VERIFY stage intersects the value-sorted `ts` sets once per
    // surviving bare-id pair.
    "d8_prefix_join" ->
      s"""WITH t AS ($sqlDocs),
         |ts AS MATERIALIZED (SELECT doc_id, lang,
         |         list_sort(list_distinct(
         |           list_transform($sqlShingles, $sqlHash60))) AS ts
         |       FROM t),
         |e AS (SELECT doc_id, unnest(ts) AS tok FROM ts),
         |f AS (SELECT tok, count(1) AS freq FROM e GROUP BY tok),
         |n AS (SELECT doc_id, length(ts) AS n FROM ts),
         |rk AS (SELECT e.doc_id, e.tok, row_number() OVER (
         |         PARTITION BY e.doc_id ORDER BY f.freq, e.tok) AS rnk
         |       FROM e JOIN f USING (tok)),
         |pr AS MATERIALIZED (
         |       SELECT rk.doc_id, n.n, rk.tok, rk.rnk - 1 AS pos
         |       FROM rk JOIN n USING (doc_id)
         |       WHERE rk.rnk <= n.n - (n.n * 7 + 9) // 10 + 1),
         |c AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM pr a JOIN pr b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |        AND 10 * a.n >= 7 * b.n AND 10 * b.n >= 7 * a.n
         |        AND 17 * least(a.n - a.pos, b.n - b.pos)
         |              >= 7 * (a.n + b.n)),
         |j AS (SELECT c.a_id, ta.lang,
         |        length(list_intersect(ta.ts, tb.ts)) AS inter,
         |        length(ta.ts) + length(tb.ts)
         |          - length(list_intersect(ta.ts, tb.ts)) AS uni
         |      FROM c JOIN ts ta ON ta.doc_id = c.a_id
         |             JOIN ts tb ON tb.doc_id = c.b_id)
         |SELECT lang, count(1) AS n_pairs, min(a_id) AS min_a
         |FROM j WHERE 10 * inter >= 7 * uni GROUP BY lang""".stripMargin,
    // transitive closure via a recursive CTE (components are tiny
    // near-cliques, so the closure stays small); cluster = min
    // reachable id, mirroring the engine's min-label fixpoint
    "d9_dup_clusters" ->
      s"""$sqlClusterCtes
         |SELECT cluster, count(1) AS n_docs, max(id) AS max_doc
         |FROM cc GROUP BY cluster""".stripMargin,
    "d10_curate_canonical" ->
      s"""$sqlClusterCtes,
         |losers AS (SELECT id FROM cc WHERE id <> cluster),
         |kept AS (SELECT * FROM t
         |         WHERE doc_id NOT IN (SELECT id FROM losers)),
         |q AS (SELECT lang, doc_id, length(ws) AS n_words,
         |        CASE WHEN n_chars BETWEEN 100 AND 800 THEN 1 ELSE 0 END AS len_ok,
         |        CAST(floor(length(list_distinct(ws)) * 100.0 / length(ws)) AS BIGINT)
         |          AS diversity_pct
         |      FROM kept)
         |SELECT lang,
         |  CASE WHEN len_ok = 1 AND diversity_pct >= 80 THEN 'high'
         |       WHEN diversity_pct >= 60 THEN 'mid' ELSE 'low' END AS tier,
         |  count(1) AS n_docs, min(doc_id) AS min_doc
         |FROM q GROUP BY 1, 2""".stripMargin,
    "d7_shingle_generator" ->
      s"""WITH t AS ($sqlDocs),
         |sh AS (SELECT lang, unnest($sqlShingles) AS shingle FROM t)
         |SELECT lang, count(1) AS n_shingles,
         |  count(DISTINCT shingle) AS n_distinct
         |FROM sh GROUP BY lang""".stripMargin,
    "d6_embedding_dup" ->
      """WITH p AS (
        |  SELECT a.label,  a.vec_id AS a_id,
        |    round(list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), z -> z[1] * z[2])) /
        |          (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x))) *
        |           sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))), 6) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, count(1) AS n_neardup_pairs, min(a_id) AS min_a
        |FROM p WHERE sim > 0.5 GROUP BY label""".stripMargin,
  )
}
