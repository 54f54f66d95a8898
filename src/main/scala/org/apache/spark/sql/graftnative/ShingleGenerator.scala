// Lives in an org.apache.spark.sql subpackage beside the sibling
// native expressions; GraftNative registers it as `shingles`.
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  CollectionGenerator, Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{
  ArrayType, ByteType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Generator (UDTF surface): `shingles(text, n)` emits the
  * n-word shingles of whitespace-tokenized text, one row each — the
  * reference's 1→0..n Transformer protocol (transformer.py:4-5)
  * expressed as a Catalyst table function rather than a typed
  * flatMap, so it composes in SQL and the DataFrame DSL alike and
  * plans as a pipelined `Generate` node (no shuffle, no buffering).
  *
  * Codegen: implemented as a `CollectionGenerator` whose `doGenCode`
  * emits one call to the shared [[ShingleOps.shingleArray]] helper, so
  * `GenerateExec` keeps the whole row loop inside WholeStageCodegen —
  * the shingle pipelines (d2/d3/d7/d8/t8) stay in one generated span
  * instead of breaking at an interpreted Generate.
  *
  * Tokenization and the short-text case (< n tokens → ONE shingle of
  * the whole text) bit-match the composed `shinglesExpr` in
  * operators.Dedup, so the two forms are interchangeable under the
  * DuckDB oracle.
  */
case class Shingles(text: Expression, n: Expression)
    extends Generator with CollectionGenerator {

  override def children: Seq[Expression] = Seq(text, n)
  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType, nullable = false) :: Nil)

  // CollectionGenerator contract: a flat (non-inline, position-less)
  // array of the single output column's values
  override def position: Boolean = false
  override def inline: Boolean = false
  override def collectionType: ArrayType =
    ArrayType(StringType, containsNull = false)

  /** Analysis-time contract: executor-side eval would otherwise fail
    * with ClassCastException on a mistyped argument; surface it as a
    * driver-side AnalysisException instead.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingles() first argument must be STRING, got ${text.dataType.sql}")
    else n.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingles() width must be an integer, got ${other.sql}")
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    val nv = n.eval(input)
    // null text, null width, or a non-positive width yield no shingles
    // (mirrors how explode treats null/empty arrays) rather than an
    // executor-side NPE / sliding() IllegalArgumentException
    if (t == null || nv == null) Iterator.empty
    else {
      val arr = ShingleOps.shingleArray(
        t.asInstanceOf[UTF8String], nv.asInstanceOf[Number].longValue())
      (0 until arr.numElements()).iterator
        .map(i => InternalRow(arr.getUTF8String(i)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tEv = text.genCode(ctx)
    val nEv = n.genCode(ctx)
    val adt = "org.apache.spark.sql.catalyst.util.ArrayData"
    val ops = "org.apache.spark.sql.graftnative.ShingleOps"
    // null width behaves like non-positive width (no shingles) — the
    // helper returns an empty array for both, matching eval
    ev.copy(
      code = code"""
        |${tEv.code}
        |${nEv.code}
        |$adt ${ev.value} = $ops.shingleArray(
        |  ${tEv.isNull} ? null : ${tEv.value},
        |  ${nEv.isNull} ? -1L : (long) ${nEv.value});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Shingles =
    copy(text = newChildren(0), n = newChildren(1))
}

/** Shared shingle computation: ONE implementation feeds both the
  * interpreted `eval` and the generated code, so the two paths cannot
  * drift (the oracle compares values, not plans).
  */
object ShingleOps {
  def shingleArray(t: UTF8String, k: Long): ArrayData = {
    if (t == null || k <= 0L) new GenericArrayData(Array.empty[Any])
    else {
      val toks = t.toString.trim.split("\\s+").filterNot(_.isEmpty)
      val kk = math.min(k, Int.MaxValue.toLong).toInt
      val out: Array[Any] =
        if (toks.length < kk) Array(UTF8String.fromString(toks.mkString(" ")))
        else toks.sliding(kk)
          .map(s => UTF8String.fromString(s.mkString(" ")): Any).toArray
      new GenericArrayData(out)
    }
  }
}
