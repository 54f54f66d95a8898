// Lives in an org.apache.spark.sql subpackage to reach private[sql]
// surfaces (classic.Dataset.ofRows) — same pattern as CosineSimilarity.
package org.apache.spark.sql.graftnative

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Ascending, Attribute, BoundReference, Expression,
  GenericInternalRow, JoinedRow, NamedExpression, NullsFirst,
  PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReferences
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, CodeGenerator, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{
  BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{
  BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{
  ByteType, DataType, DateType, IntegerType, LongType, ShortType,
  TimestampNTZType, TimestampType}

/** Native backward as-of join (SURVEY.md §2.4, §2.12): for every left
  * row, the single right row with the same key and the greatest
  * `rightTime <= leftTime` (ties broken by `rightTieBreak`, greatest
  * wins); left rows with no match are dropped (inner semantics).
  *
  * This is the whole-operator escalation path the build plan reserves
  * for semantics Spark's built-ins can't express as ONE operator
  * (composed forms: union+window in `q13_join_asof`, or join+argmax —
  * both materialize/sort the union of the two streams). The custom
  * plan instead:
  *
  *   - declares `ClusteredDistribution` on the join keys for BOTH
  *     children, so EnsureRequirements co-partitions the two sides
  *     exactly like a shuffle join (and reuses existing partitioning
  *     when an upstream already hashed on the key — zero extra
  *     exchange in that case);
  *   - declares per-child `(key, time)` sort orders, so each side is
  *     sorted independently (two smaller sorts instead of one big
  *     union sort);
  *   - merges the two sorted streams per partition in ONE forward
  *     pass holding O(1) state (the latest matching right row) —
  *     no window buffer, no per-key grouping, spill-free.
  *
  * At 100 TB this is the plan you want: both sides shuffle once on the
  * key (or not at all if bucketed), and the probe is a pipelined merge.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    outer: Boolean = false,
    forward: Boolean = false,
    nearest: Boolean = false,
    toleranceMicros: Long = -1L)
  extends BinaryNode {
  // left-outer: unmatched left rows are kept, right side null-padded
  override def output: Seq[Attribute] =
    left.output ++ (if (outer) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule exemplar: deterministic predicates over left-side
  * attributes commute with the as-of join (it never duplicates or
  * alters left rows, only drops non-matches), so push them below the
  * join — the filter then runs BEFORE the shuffle instead of after.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoinPlan) =>
      val (pushable, rest) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Physical strategy: AsOfJoinPlan → AsOfJoinExec. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, outer, fwd, near, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, outer, fwd, near, tol,
                   planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    outer: Boolean,
    forward: Boolean,
    nearest: Boolean,
    toleranceMicros: Long,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ (if (outer) right.output.map(_.withNullability(true))
                    else right.output)

  // Co-partition both sides on the join keys; EnsureRequirements
  // inserts (or reuses) hash exchanges and makes the specs compatible,
  // exactly as it does for shuffle joins / CoGroupExec.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Each side sorted by (key, time) — right additionally by the tie
  // break so "last row consumed" is deterministic under equal times.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending, NullsFirst, Seq.empty)),
    (rightKeys ++ (rightTime +: rightTieBreak))
      .map(SortOrder(_, Ascending, NullsFirst, Seq.empty)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // ------------------------------------------------------------------
  // WholeStageCodegen (produce side, the SortMergeJoinExec shape): the
  // operator is a stage ROOT consuming its two sorted children as plain
  // row iterators (`inputRDDs`), and the ENTIRE merge loop — right-side
  // advance, O(1) held state, match selection, output — is generated
  // Java fused with every downstream operator in the stage, so e.g. a
  // following aggregate's hash-map update runs in the same compiled
  // function as the merge (no iterator virtual calls between them).
  //
  // Only the longable fast path is generated (integral/timestamp time —
  // every tolerance/nearest-capable type); exotic ordered time types
  // keep the interpreted doExecute below, as does codegen-off.
  //
  // Plan-display note: CollapseCodegenStages special-cases only
  // SortMergeJoin/ShuffledHashJoin by concrete type, so a CUSTOM
  // two-input codegen node takes the generic path — the child Sorts
  // appear INSIDE this operator's WholeStageCodegen stage in EXPLAIN
  // even though their produce() is never invoked; they execute through
  // their own doExecute when inputRDDs() calls child.execute(), which
  // is exactly how SortMergeJoinExec consumes its (InputAdapter'd)
  // children. Cosmetic only: per-operator SQL metrics and results are
  // identical, as the generated/interpreted agreement spec pins.
  // ------------------------------------------------------------------

  override def supportCodegen: Boolean =
    AsOfJoinExec.longableTimeType(rightTime.dataType)

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output rows may be buffered by downstream operators; they reference
  // the (reused) input row buffers until projected, so require copies
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "asofRightInput", v => s"$v = inputs[1];")
    // current right head (null = consumed, refetch on demand), plus the
    // O(1) backward state: held row copy, its time, and validity
    val rightRow = ctx.addMutableState("InternalRow", "asofRightRow")
    val held = ctx.addMutableState("InternalRow", "asofHeld")
    val heldValid = ctx.addMutableState("boolean", "asofHeldValid")
    val heldTime = ctx.addMutableState("long", "asofHeldTime")

    val keyTypes = leftKeys.map(_.dataType)
    val tolL = s"${toleranceMicros}L"
    val lkParams = keyTypes.indices.map(i => s"asofLk$i")
    // held key = buffered copies of the left-key args at hold time
    // (addBufferedState clones object types so the values outlive the
    // source row's reused buffer)
    val heldKeys = keyTypes.zipWithIndex.map { case (dt, i) =>
      ctx.addBufferedState(dt, s"asofHeldKey$i", lkParams(i))
    }

    // right-side key/time evaluation, bound to a local row variable
    val rrow = ctx.freshName("asofRRow")
    val savedInput = ctx.INPUT_ROW
    val savedVars = ctx.currentVars
    ctx.INPUT_ROW = rrow
    ctx.currentVars = null
    val rkEvs = bindReferences(rightKeys, right.output).map(_.genCode(ctx))
    val rtEv = bindReferences(Seq(rightTime), right.output).head.genCode(ctx)
    ctx.INPUT_ROW = savedInput
    ctx.currentVars = savedVars

    // lexicographic (right vs left-args) compare with NULLS FIRST on
    // the right (left args are non-null — checked before the call), so
    // null-keyed right rows are consumed exactly like the interpreted
    // RowOrdering path
    val cmpChain = rkEvs.zipWithIndex.map { case (ev, i) =>
      s"""${ev.code}
         |if (${ev.isNull}) { cmp = -1; break; }
         |cmp = ${ctx.genComp(keyTypes(i), ev.value.toString, lkParams(i))};
         |if (cmp != 0) break;""".stripMargin
    }.mkString("\n")
    val heldKeyCmp = keyTypes.indices.map { i =>
      s"if (hc == 0) hc = ${ctx.genComp(keyTypes(i),
        heldKeys(i).value.toString, lkParams(i))};"
    }.mkString("\n")
    val heldAssign = heldKeys.map(_.code.toString).mkString("\n")

    val paramsDecl = (s"long asofLt" +: keyTypes.zipWithIndex.map {
      case (dt, i) => s"${CodeGenerator.javaType(dt)} ${lkParams(i)}"
    }).mkString(", ")

    // the per-left-row advance: consume right rows that sort before
    // (key, time-window), update held state, return the matched row
    val scanCore =
      s"""boolean scanning = true;
         |boolean headSame = false;
         |long headTime = 0L;
         |while (scanning) {
         |  if ($rightRow == null) {
         |    if (!$rightInput.hasNext()) break;
         |    $rightRow = (InternalRow) $rightInput.next();
         |  }
         |  InternalRow $rrow = $rightRow;
         |  int cmp = 0;
         |  do {
         |    $cmpChain
         |  } while (false);
         |  if (cmp < 0) { $rightRow = null; continue; }
         |  if (cmp > 0) break;
         |  ${rtEv.code}
         |  if (${rtEv.isNull}) { $rightRow = null; continue; }
         |  long rt = (long) ${rtEv.value};""".stripMargin
    val fnBody = if (forward) {
      // FORWARD: discard same-key rows with time < lt; head (if still
      // same-key) is the earliest (time, tieBreak) at-or-after lt —
      // matched WITHOUT consuming (later lefts may match it too)
      s"""$scanCore
         |  if (rt < asofLt) { $rightRow = null; continue; }
         |  headSame = true; headTime = rt; scanning = false;
         |}
         |if (headSame && ($tolL < 0L || headTime - asofLt <= $tolL)) {
         |  return $rightRow;
         |}
         |return null;""".stripMargin
    } else {
      val backSelect =
        if (!nearest) {
          s"""if ($heldValid && ($tolL < 0L || asofLt - $heldTime <= $tolL)) {
             |  return $held;
             |}
             |return null;""".stripMargin
        } else {
          // NEAREST: smaller gap wins, ties go backward (the pandas
          // merge_asof convention); the scan left the head at the first
          // same-key row with time > lt — the forward candidate
          s"""boolean backOk =
             |  $heldValid && ($tolL < 0L || asofLt - $heldTime <= $tolL);
             |InternalRow fwd = null;
             |long fwdGap = Long.MAX_VALUE;
             |if (headSame) {
             |  long g = headTime - asofLt;
             |  if ($tolL < 0L || g <= $tolL) { fwd = $rightRow; fwdGap = g; }
             |}
             |long backGap = backOk ? asofLt - $heldTime : Long.MAX_VALUE;
             |if (backOk && backGap <= fwdGap) return $held;
             |return fwd;""".stripMargin
        }
      // BACKWARD: consume same-key rows with time <= lt, keeping the
      // last (= greatest (time, tieBreak)); invalidate held when the
      // left key moved past its key group
      s"""if ($heldValid) {
         |  int hc = 0;
         |  $heldKeyCmp
         |  if (hc != 0) { $heldValid = false; $held = null; }
         |}
         |$scanCore
         |  if (rt <= asofLt) {
         |    $held = $rrow.copy();
         |    $heldTime = rt;
         |    $heldValid = true;
         |    $heldAssign
         |    $rightRow = null;
         |  } else { headSame = true; headTime = rt; scanning = false; }
         |}
         |$backSelect""".stripMargin
    }
    val matchFn = ctx.addNewFunction("asofAdvance",
      s"""private InternalRow asofAdvance($paramsDecl) {
         |  $fnBody
         |}""".stripMargin)

    // ---- main produce loop over the left side ----
    val leftRow = ctx.freshName("asofLeftRow")
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val lkEvs = bindReferences(leftKeys, left.output).map(_.genCode(ctx))
    val ltEv = bindReferences(Seq(leftTime), left.output).head.genCode(ctx)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = savedInput
    ctx.currentVars = savedVars

    val matched = ctx.freshName("asofMatched")
    // right-side output columns read from the matched row; under outer
    // the whole read is guarded on match presence (null-padded miss)
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRNull")
      val value = ctx.freshName("asofRVal")
      val jt = CodeGenerator.javaType(a.dataType)
      val getV = CodeGenerator.getValue(matched, a.dataType, i.toString)
      if (outer) {
        ExprCode(
          code"""boolean $isNull = true;
                |$jt $value = ${CodeGenerator.defaultValue(a.dataType)};
                |if ($matched != null) {
                |  $isNull = $matched.isNullAt($i);
                |  if (!$isNull) { $value = $getV; }
                |}""".stripMargin,
          JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
      } else if (a.nullable) {
        ExprCode(
          code"""boolean $isNull = $matched.isNullAt($i);
                |$jt $value = $isNull
                |  ? ${CodeGenerator.defaultValue(a.dataType)} : ($getV);""".stripMargin,
          JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
      } else {
        ExprCode(code"$jt $value = $getV;",
          FalseLiteral, JavaCode.variable(value, a.dataType))
      }
    }
    val numOutput = metricTerm(ctx, "numOutputRows")
    val anyNull = (lkEvs.map(_.isNull) :+ ltEv.isNull).mkString(" || ")
    val callArgs = (s"(long) ${ltEv.value}" +: lkEvs.map(_.value.toString))
      .mkString(", ")
    val emit =
      s"""$numOutput.add(1);
         |${consume(ctx, leftVars ++ rightVars)}""".stripMargin
    val outputBlock =
      if (outer) emit
      else s"""if ($matched != null) {
              |  $emit
              |}""".stripMargin
    // no limitNotReachedCond here: that early-exit hook is reserved for
    // leaf/blocking nodes (its check warns otherwise); shouldStop()
    // below already exits once a downstream limit's buffer fills
    s"""while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lkEvs.map(_.code).mkString("\n")}
       |  ${ltEv.code}
       |  InternalRow $matched = null;
       |  if (!($anyNull)) {
       |    $matched = $matchFn($callArgs);
       |  }
       |  $outputBlock
       |  ${shouldStopCheckCode}
       |}""".stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lOut = left.output
    val rOut = right.output
    val lTime = leftTime
    val rTime = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeDt = rTime.dataType
    val longable = AsOfJoinExec.longableTimeType(timeDt)
    // the API layer already rejects this; re-assert at the execution
    // boundary so a hand-built plan fails fast on the driver too
    require(longable || (toleranceMicros < 0L && !nearest),
      s"as-of tolerance/nearest need an integral time type, got $timeDt")
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    // locals so the task closure doesn't capture the plan node
    val isOuter = outer
    val isForward = forward
    val isNearest = nearest
    val tol = toleranceMicros
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Every expression eval and every emitted row goes through a
      // CODE-GENERATED UnsafeProjection (Janino-compiled): keys, times
      // and the result row. The merge loop itself stays interpreted
      // control flow, but on integral/timestamp time types (the
      // `longable` fast path below — every supported tolerance/nearest
      // type) the per-row comparisons run on primitive longs, no
      // boxing in the hot path.
      //
      // UnsafeRow lifecycle: each projection reuses ONE backing
      // buffer, so (a) values that must survive a later projection
      // call are copy()d (`held`, `heldKey`), (b) time values are read
      // out as primitives immediately, and (c) the result projection
      // materializes the JoinedRow into the output buffer before the
      // next row is computed — rows handed downstream are valid until
      // the consumer's next() call, the standard operator contract
      // (same shape as SortMergeJoinExec's resultProj).
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)

      if (longable) {
        val timeAt = AsOfJoinExec.timeReader(timeDt)
        new Iterator[InternalRow] {
          private var held: UnsafeRow = null     // latest matching right row
          private var heldKey: UnsafeRow = null  // its key (copied)
          private var heldTime: Long = 0L        // its time
          private var pending: InternalRow = null

          private def computeNext(): InternalRow = {
            while (lIter.hasNext) {
              val l = lIter.next()
              val lk = lKeyProj(l)
              var matched: InternalRow = null
              if (!lk.anyNull) {
                val ltr = lTimeProj(l)
                if (!ltr.isNullAt(0)) {
                  val lt = timeAt(ltr)
                  if (!isForward) {
                    // BACKWARD: consume rows whose key sorts before
                    // lk, and same-key rows with time <= lt (keeping
                    // the last = greatest (time, tieBreak) thanks to
                    // the sort).
                    var scan = true
                    while (scan && rBuf.hasNext) {
                      val r = rBuf.head
                      val rk = rKeyProj(r)
                      val cmp = keyOrd.compare(rk, lk)
                      if (cmp < 0) rBuf.next()
                      else if (cmp == 0) {
                        val rtr = rTimeProj(r)
                        if (rtr.isNullAt(0)) rBuf.next() // null never matches
                        else {
                          val rt = timeAt(rtr)
                          if (rt <= lt) {
                            held = rBuf.next().asInstanceOf[UnsafeRow].copy()
                            heldKey = lk.copy()
                            heldTime = rt
                          } else scan = false
                        }
                      } else scan = false
                    }
                    val backOk = held != null &&
                      keyOrd.compare(heldKey, lk) == 0 &&
                      (tol < 0 || lt - heldTime <= tol)
                    if (!isNearest) {
                      if (backOk) matched = held
                    } else {
                      // NEAREST: the backward advance leaves the head
                      // at the first same-key row with time > lt —
                      // the forward candidate. Smaller gap wins; ties
                      // go backward (the pandas merge_asof convention).
                      var fwdRow: InternalRow = null
                      var fwdGap = Long.MaxValue
                      if (rBuf.hasNext &&
                          keyOrd.compare(rKeyProj(rBuf.head), lk) == 0) {
                        val rtr2 = rTimeProj(rBuf.head)
                        if (!rtr2.isNullAt(0)) {
                          val g = timeAt(rtr2) - lt
                          if (tol < 0 || g <= tol) {
                            fwdRow = rBuf.head; fwdGap = g
                          }
                        }
                      }
                      val backGap = if (backOk) lt - heldTime else Long.MaxValue
                      if (backOk && backGap <= fwdGap) matched = held
                      else if (fwdRow != null) matched = fwdRow
                    }
                  } else {
                    // FORWARD: discard rows whose key sorts before lk
                    // or whose time < lt; the head is then the
                    // earliest (time, tieBreak) at-or-after lt — match
                    // WITHOUT consuming (later, larger-lt lefts may
                    // match it too).
                    var scan = true
                    while (scan && rBuf.hasNext) {
                      val r = rBuf.head
                      val rk = rKeyProj(r)
                      val cmp = keyOrd.compare(rk, lk)
                      if (cmp < 0) rBuf.next()
                      else if (cmp == 0) {
                        val rtr = rTimeProj(r)
                        if (rtr.isNullAt(0) || timeAt(rtr) < lt) rBuf.next()
                        else scan = false
                      } else scan = false
                    }
                    if (rBuf.hasNext &&
                        keyOrd.compare(rKeyProj(rBuf.head), lk) == 0 &&
                        (tol < 0 || timeAt(rTimeProj(rBuf.head)) - lt <= tol)) {
                      matched = rBuf.head
                    }
                  }
                }
              }
              if (matched != null) {
                numOutputRows += 1
                return resultProj(joined(l, matched))
              } else if (isOuter) {
                numOutputRows += 1
                return resultProj(joined(l, nullRight))
              }
            }
            null
          }

          override def hasNext: Boolean = {
            if (pending == null) pending = computeNext()
            pending != null
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      } else {
        // Generic fallback for non-integral ordered time types (e.g.
        // string, decimal): boxed comparisons through the interpreted
        // ordering. Only backward/forward are reachable here —
        // tolerance/nearest are rejected above.
        val timeOrd =
          TypeUtils.getInterpretedOrdering(timeDt).asInstanceOf[Ordering[Any]]
        new Iterator[InternalRow] {
          private var held: UnsafeRow = null
          private var heldKey: UnsafeRow = null
          private var pending: InternalRow = null

          private def computeNext(): InternalRow = {
            while (lIter.hasNext) {
              val l = lIter.next()
              val lk = lKeyProj(l)
              var matched: InternalRow = null
              if (!lk.anyNull) {
                val ltr = lTimeProj(l)
                if (!ltr.isNullAt(0)) {
                  val lt = ltr.get(0, timeDt)
                  if (!isForward) {
                    var scan = true
                    while (scan && rBuf.hasNext) {
                      val r = rBuf.head
                      val rk = rKeyProj(r)
                      val cmp = keyOrd.compare(rk, lk)
                      if (cmp < 0) rBuf.next()
                      else if (cmp == 0) {
                        val rtr = rTimeProj(r)
                        if (rtr.isNullAt(0)) rBuf.next()
                        else if (timeOrd.lteq(rtr.get(0, timeDt), lt)) {
                          held = rBuf.next().asInstanceOf[UnsafeRow].copy()
                          heldKey = lk.copy()
                        } else scan = false
                      } else scan = false
                    }
                    if (held != null && keyOrd.compare(heldKey, lk) == 0)
                      matched = held
                  } else {
                    var scan = true
                    while (scan && rBuf.hasNext) {
                      val r = rBuf.head
                      val rk = rKeyProj(r)
                      val cmp = keyOrd.compare(rk, lk)
                      if (cmp < 0) rBuf.next()
                      else if (cmp == 0) {
                        val rtr = rTimeProj(r)
                        if (rtr.isNullAt(0) ||
                            timeOrd.lt(rtr.get(0, timeDt), lt)) rBuf.next()
                        else scan = false
                      } else scan = false
                    }
                    if (rBuf.hasNext &&
                        keyOrd.compare(rKeyProj(rBuf.head), lk) == 0) {
                      matched = rBuf.head
                    }
                  }
                }
              }
              if (matched != null) {
                numOutputRows += 1
                return resultProj(joined(l, matched))
              } else if (isOuter) {
                numOutputRows += 1
                return resultProj(joined(l, nullRight))
              }
            }
            null
          }

          override def hasNext: Boolean = {
            if (pending == null) pending = computeNext()
            pending != null
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {
  /** Time types the merge reads as a primitive long (timestamps/dates
    * store as micros/days internally). Everything else falls back to
    * boxed interpreted ordering and cannot use tolerance/nearest.
    */
  def longableTimeType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Primitive reader for the single-column time projection. */
  private[graftnative] def timeReader(dt: DataType): UnsafeRow => Long =
    dt match {
      case LongType | TimestampType | TimestampNTZType => _.getLong(0)
      case IntegerType | DateType => _.getInt(0).toLong
      case ShortType => _.getShort(0).toLong
      case ByteType => _.getByte(0).toLong
      case other =>
        throw new IllegalStateException(s"not a longable time type: $other")
    }
}

/** Column-name-based construction API (graft.plans.AsOf re-exports).
  *
  * The right side is re-aliased through a fresh Project so a self-join
  * (both sides scanning the same table) gets distinct expression ids.
  */
object AsOfJoinApi {
  def join(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      rightTieBreakCols: Seq[String] = Nil,
      joinType: String = "inner",
      direction: String = "backward",
      toleranceMicros: Long = -1L): DataFrame = {
    val nearest = direction == "nearest"
    val outer = joinType match {
      case "inner" => false
      case "left" | "left_outer" | "leftouter" => true
      case other => throw new IllegalArgumentException(
        s"as-of joinType must be inner or left_outer, got '$other'")
    }
    val forward = direction match {
      case "backward" | "nearest" => false
      case "forward" => true
      case other => throw new IllegalArgumentException(
        s"as-of direction must be backward, forward or nearest, got '$other'")
    }
    val session = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftNative.install(session)
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    // fresh exprIds for the right side (self-join safety)
    val rAliases: Seq[NamedExpression] =
      rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    def attr(out: Seq[Attribute], name: String): Attribute =
      out.filter(_.name == name) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"no column '$name' in [${out.map(_.name).mkString(", ")}]")
        // silently binding the first of several duplicates could join
        // on the wrong column — fail like Spark's own resolver does
        case many => throw new IllegalArgumentException(
          s"ambiguous column '$name': ${many.size} matches in " +
            s"[${out.map(_.name).mkString(", ")}]")
      }
    val lKeys = leftOn.map(attr(lPlan.output, _))
    val rKeys = rightOn.map(attr(rPlan.output, _))
    val lT = attr(lPlan.output, leftTimeCol)
    val rT = attr(rPlan.output, rightTimeCol)
    require(lKeys.length == rKeys.length,
      s"as-of key count mismatch: $leftOn vs $rightOn")
    lKeys.zip(rKeys).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}: ${a.dataType} vs ${b.name}: ${b.dataType}")
    }
    require(lT.dataType == rT.dataType,
      s"as-of time type mismatch: ${lT.name}: ${lT.dataType} vs ${rT.name}: ${rT.dataType}")
    // tolerance/nearest subtract times as integers — a non-numeric
    // time column would otherwise surface as an executor-side
    // ClassCastException; enforce the documented requirement here.
    // DateType is excluded: it stores DAYS, so a micros-denominated
    // tolerance would be unit-mismatched by 8.64e10 and silently match
    // everything. (For raw integer time columns the tolerance is in
    // the column's own unit; for timestamps that unit IS micros.)
    if (toleranceMicros >= 0L || nearest) {
      require(lT.dataType != org.apache.spark.sql.types.DateType,
        s"as-of tolerance/nearest on a DATE time column is ambiguous " +
          s"(days vs toleranceMicros); cast ${lT.name} to timestamp first")
      require(AsOfJoinExec.longableTimeType(lT.dataType),
        s"as-of with tolerance or direction=nearest needs an integral/" +
          s"timestamp time column, got ${lT.name}: ${lT.dataType}")
    }
    val plan = AsOfJoinPlan(
      lPlan, rPlan,
      lKeys,
      rKeys,
      lT,
      rT,
      rightTieBreakCols.map(attr(rPlan.output, _)),
      outer, forward, nearest, toleranceMicros)
    org.apache.spark.sql.classic.Dataset.ofRows(session, plan)
  }
}
