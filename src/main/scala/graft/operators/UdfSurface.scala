package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** User-extensibility exemplars (SURVEY.md §2.9/§2.12): scalar UDF,
  * typed Aggregator (UDAF), and the transformer flatMap is the UDTF
  * exemplar (graft.pipeline). Built-ins always win in the hot path —
  * these exist to prove the surface, and each computes in exact
  * integer/long space so the oracle can replay it.
  */
object UdfSurface {
  type Q = (SparkSession, String) => DataFrame

  /** Scalar UDF: Knuth multiplicative bucket of a key. A UDF on
    * purpose (the exemplar); the same expression is a one-liner with
    * built-ins, which is how the rest of this codebase does it.
    *
    * The key is reduced mod 2^31 BEFORE the multiply: the raw product
    * would exceed int64 for keys ≥ ~3.5e9, where JVM arithmetic wraps
    * silently but DuckDB (and most SQL engines) raise — wrap-dependent
    * arithmetic is not portable across engines, so the shared-dialect
    * contract requires staying in-range (flushed out by the sf1 gate
    * run, where replicated order keys reach ~9e9).
    */
  val u1ScalarUdf: Q = (s, d) => {
    val bucket = udf((k: Long) =>
      (((k % 2147483648L) * 2654435761L) % 1024 + 1024) % 1024)
    orders(s, d)
      .withColumn("bucket", bucket(col("o_orderkey")) % 8)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Typed Aggregator: weighted average price per unit quantity, with
    * long-cents accumulation (order-independent exact arithmetic).
    */
  case class LineW(l_extendedprice: Double, l_quantity: Double, l_returnflag: String)
  case class WBuf(cents: Long, qty: Long)

  object WeightedAvg extends Aggregator[LineW, WBuf, Double] {
    override def zero: WBuf = WBuf(0L, 0L)
    override def reduce(b: WBuf, r: LineW): WBuf =
      WBuf(b.cents + math.round(r.l_extendedprice * 100), b.qty + math.round(r.l_quantity))
    override def merge(a: WBuf, b: WBuf): WBuf = WBuf(a.cents + b.cents, a.qty + b.qty)
    override def finish(b: WBuf): Double =
      if (b.qty == 0) 0.0 else math.floor(b.cents.toDouble / b.qty) / 100.0
    override def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val u2TypedAgg: Q = (s, d) => {
    import s.implicits._
    lineitem(s, d)
      .select(col("l_extendedprice"), col("l_quantity"), col("l_returnflag"))
      .as[LineW]
      .groupByKey(_.l_returnflag)
      .agg(WeightedAvg.toColumn.name("wavg_price_per_qty"))
      .toDF("l_returnflag", "wavg_price_per_qty")
  }

  /** Typed Aggregator with ARRAY state: element-wise mean of the
    * embedding vectors per label — the centroid computation every
    * clustering / class-prototype pipeline runs, as a UDAF exemplar.
    * Each float is fixed-pointed to integer MICROS before accumulation
    * (floats are exact in double, the 1e6 scale-and-round is identical
    * in both engines, and integer sums are order-independent), so the
    * per-element mean is bit-stable under any partitioning; the mean
    * itself stays in integer micros (truncating division). At corpus
    * scale the int64 per-element sums hold ~9e12 vectors before
    * overflow; the merge is a flat array add — the same partial-
    * aggregation shape Spark's own sum enjoys.
    */
  case class VecRow(label: Int, embedding: Array[Float])
  case class VecBuf(var n: Long, var sums: Array[Long])

  object VecMean extends Aggregator[VecRow, VecBuf, Array[Long]] {
    override def zero: VecBuf = VecBuf(0L, Array.emptyLongArray)
    private def ensure(b: VecBuf, dims: Int): VecBuf =
      if (b.sums.length >= dims) b else VecBuf(b.n, b.sums.padTo(dims, 0L))
    /** HALF-AWAY-FROM-ZERO fixed-pointing: java's Math.round is
      * floor(x+0.5) (rounds -2.5 to -2) while SQL round() goes away
      * from zero (-2.5 to -3); half-ties are reachable for dyadic
      * floats like 1/128 * 1e6 = 7812.5, so the tie rule must match
      * the oracle's exactly.
      */
    private def fx(x: Float): Long = {
      val v = x.toDouble * 1000000
      (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
    }
    override def reduce(b0: VecBuf, r: VecRow): VecBuf = {
      val b = ensure(b0, r.embedding.length)
      var i = 0
      while (i < r.embedding.length) {
        b.sums(i) += fx(r.embedding(i))
        i += 1
      }
      VecBuf(b.n + 1, b.sums)
    }
    override def merge(a0: VecBuf, b0: VecBuf): VecBuf = {
      val a = ensure(a0, b0.sums.length); val b = ensure(b0, a0.sums.length)
      var i = 0
      while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
      VecBuf(a.n + b.n, a.sums)
    }
    // plain long division truncates toward zero — the same rule as
    // Spark DIV and DuckDB's integer //
    override def finish(b: VecBuf): Array[Long] =
      b.sums.map(s => if (b.n == 0) 0L else s / b.n)
    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  val u3VectorUdaf: Q = (s, d) => {
    import s.implicits._
    // The Aggregator carries ARRAY state (the point of the exemplar);
    // the published output posexplodes it to (label, pos, mm) rows —
    // the repo-wide convention that no query surfaces a container
    // column (the driver's comparer sorts rendered scalars; see the
    // EntrySmokeSpec output-schema lint).
    embeddings(s, d)
      .select(col("label"), col("embedding"))
      .as[VecRow]
      .groupByKey(_.label)
      .agg(VecMean.toColumn.name("mean_micros"))
      .toDF("label", "mean_micros")
      .select(col("label").cast("int").as("label"),
              posexplode(col("mean_micros")).as(Seq("pos", "mm")))
      .select(col("label"), (col("pos") + 1).cast("int").as("pos"), col("mm"))
  }

  /** SQL-defined UDF (Spark 4's CREATE FUNCTION … RETURN <expr>): the
    * function body is a SQL expression the ANALYZER inlines into the
    * caller's plan, so unlike the JVM-closure UDFs above it stays
    * inside whole-stage codegen AND Catalyst can push/fold through it
    * — the first UDF form to reach for when the logic is expressible.
    * Body = the discounted-price product; the caller folds it through
    * the exact decimal path, so the oracle is the inlined expression.
    */
  val u4SqlUdf: Q = (s, d) => {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_margin(
        |  price DOUBLE, disc DOUBLE) RETURNS DOUBLE
        |RETURN price * (1.0 - disc)""".stripMargin)
    lineitem(s, d).createOrReplaceTempView("u4_lineitem")
    s.sql(
      """SELECT l_returnflag, count(1) AS n,
        |  round(CAST(sum(CAST(graft_margin(l_extendedprice, l_discount)
        |    AS DECIMAL(22,4))) AS DOUBLE), 4) AS sum_margin
        |FROM u4_lineitem GROUP BY l_returnflag""".stripMargin)
  }

  /** The native `shingles` Generator through the SQL front end's
    * LATERAL VIEW syntax (d7 exercises the same UDTF via the
    * DataFrame DSL): the table function registered by GraftNative must
    * resolve and plan identically from SQL text — same codegen'd
    * Generate node, pipelined, no shuffle before the aggregate.
    */
  val u5SqlUdtf: Q = (s, d) => {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    graft.sources.Tables.documents(s, d)
      .createOrReplaceTempView("u5_documents")
    s.sql(
      """SELECT lang, source, count(1) AS n_shingles,
        |  count(DISTINCT shingle) AS n_distinct
        |FROM u5_documents LATERAL VIEW shingles(text, 3) t AS shingle
        |GROUP BY lang, source""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "u5_sql_udtf" -> u5SqlUdtf,
    "u1_scalar_udf" -> u1ScalarUdf,
    "u2_typed_agg" -> u2TypedAgg,
    "u3_vector_udaf" -> u3VectorUdaf,
    "u4_sql_udf" -> u4SqlUdf,
  )

  val oracles: Map[String, String] = Map(
    // the UDTF replayed via unnest over the shared shingle expression
    "u5_sql_udtf" ->
      s"""WITH t AS (${Dedup.sqlDocs}),
         |sh AS (SELECT lang, source, unnest(${Dedup.sqlShingles}) AS shingle
         |       FROM t)
         |SELECT lang, source, count(1) AS n_shingles,
         |  count(DISTINCT shingle) AS n_distinct
         |FROM sh GROUP BY lang, source""".stripMargin,
    // the SQL-UDF body inlined, folded through the shared decimal path
    "u4_sql_udf" ->
      """SELECT l_returnflag, count(1) AS n,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(22,4))) AS DOUBLE), 4) AS sum_margin
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "u1_scalar_udf" ->
      """SELECT ((o_orderkey % 2147483648) * 2654435761) % 1024 % 8 AS bucket,
        |       count(1) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "u2_typed_agg" ->
      """SELECT l_returnflag,
        | floor(sum(round(l_extendedprice * 100)) / sum(round(l_quantity))) / 100.0
        |   AS wavg_price_per_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // same fixed-point replay: float -> double is exact, round() is
    // half-away-from-zero in both engines, // truncates like long
    // division; one row per (label, 1-based element position)
    "u3_vector_udaf" ->
      """WITH el AS (
        |  SELECT label, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos AS INT) AS pos,
        |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |       // count(1) AS BIGINT) AS mm
        |FROM el GROUP BY 1, 2""".stripMargin,
  )
}
