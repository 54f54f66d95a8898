package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftnative.{Bridge, CdcChunkHashes, CosineSimilarity, DotProduct, LongDotProduct, MaxSim, Md5PrefixLong, MinHash8, NearestSeed, SimHash16, SortedIntersectSize, SqDistance, SqDistList, TokenStats}

/** User-facing API for the native vector expressions. */
object VectorFunctions {
  /** Column API: fused single-pass cosine similarity (codegen'd). */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: |A ∩ B| of two ascending-sorted distinct long arrays
    * (codegen'd two-pointer merge, zero allocation). Caller must sort.
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectSize(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: one-pass CDC chunk hashes of a text column —
    * `array<struct<h: string, len: int>>` (codegen'd; see
    * [[org.apache.spark.sql.graftnative.CdcChunkHashes]]).
    */
  def cdcChunkHashes(text: Column): Column =
    Bridge.column(CdcChunkHashes(Bridge.expression(text)))

  /** Column API: argmax cell over a packed seed codebook by
    * (cosine DESC, cell ASC) — the codegen'd scalar assignment that
    * replaces the crossJoin + max_by aggregate (whose struct-ordering
    * buffer forced ObjectHashAggregate's 128-key sort fallback over
    * the N×K product; see [[org.apache.spark.sql.graftnative.NearestSeed]]).
    * `cells` must be sorted ascending and positionally aligned with
    * `seeds`.
    */
  def nearestSeed(emb: Column, cells: Column, seeds: Column): Column =
    Bridge.column(NearestSeed(Bridge.expression(emb),
      Bridge.expression(cells), Bridge.expression(seeds)))

  /** Column API: 16-bit SimHash signature of a token array (one md5
    * per token, bit votes in one generated pass; see
    * [[org.apache.spark.sql.graftnative.SimHash16]]).
    */
  def simHash16(ws: Column): Column =
    Bridge.column(SimHash16(Bridge.expression(ws)))

  /** Column API: 8-permutation MinHash of a shingle array — one
    * digest per shingle, eight running minima, one generated pass
    * (see [[org.apache.spark.sql.graftnative.MinHash8]]; replaces the
    * baseHashes transform + 8 per-permutation transform/array_min
    * HOF passes).
    */
  def minHash8(sh: Column, seeds: Seq[Long]): Column =
    Bridge.column(MinHash8(Bridge.expression(sh), seeds))

  /** Column API: squared-L2 distance list of a vector subspace
    * (starting at 0-based `start`) against a driver-held literal
    * codebook — the IVF/PQ encode primitive, one generated call per
    * row with the codebook as a compact reference object (see
    * [[org.apache.spark.sql.graftnative.SqDistList]]).
    */
  def sqDistList(vec: Column, book: Seq[Seq[Double]], start: Int): Column =
    Bridge.column(SqDistList(Bridge.expression(vec), book, start))

  /** Column API: one-pass per-document token statistics
    * (struct(top_cnt, dup2_distinct, distinct_cnt, coll) — the
    * t11/t14/t16 quality-gate metrics; see
    * [[org.apache.spark.sql.graftnative.TokenStats]]).
    */
  def tokenStats(ws: Column): Column =
    Bridge.column(TokenStats(Bridge.expression(ws)))

  /** Column API: the repo's deterministic md5-prefix token hash
    * (`conv(substring(md5(x), 1, nibbles), 16, 10)`) in one digest
    * call (see [[org.apache.spark.sql.graftnative.Md5PrefixLong]]).
    */
  def md5Prefix(s: Column, nibbles: Int): Column =
    Bridge.column(Md5PrefixLong(Bridge.expression(s), nibbles))

  /** Column API: ColBERT-style MaxSim over packed multi-vectors —
    * Σ over `tokDim`-wide query tokens of the max dot product against
    * any candidate token (codegen'd nested loop, zero allocation).
    */
  def maxSim(q: Column, c: Column, tokDim: Int): Column =
    Bridge.column(MaxSim(Bridge.expression(q), Bridge.expression(c), tokDim))

  /** Column API: native dot product Σ double(aᵢ)·double(bᵢ) — the
    * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0.0,
    * +)` idiom as one generated loop (see
    * [[org.apache.spark.sql.graftnative.DotProduct]]).
    */
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: native integer dot product over array<bigint> — n11's
    * quantized-code scoring fold (see
    * [[org.apache.spark.sql.graftnative.LongDotProduct]]).
    */
  def longDotProduct(a: Column, b: Column): Column =
    Bridge.column(LongDotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: native squared L2 distance Σ (aᵢ−bᵢ)² — n12's
    * retriever-B fold (see
    * [[org.apache.spark.sql.graftnative.SqDistance]]).
    */
  def sqDistance(a: Column, b: Column): Column =
    Bridge.column(SqDistance(Bridge.expression(a), Bridge.expression(b)))
}
