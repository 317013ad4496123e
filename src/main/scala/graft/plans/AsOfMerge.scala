package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator physical as-of merge (custom-operator ladder (c):
  * LogicalPlan + SparkStrategy + SparkPlan), used by
  * [[graft.operators.AsOfJoin]].
  *
  * The child is the tagged union of both sides. The node REQUIRES
  * `ClusteredDistribution(key)` and per-partition ordering
  * `(key, ts, tag)` — EnsureRequirements inserts the one hash
  * exchange and sort, exactly the shuffle a sort-merge join would
  * need — and then a single forward pass per partition carries the
  * most recent right row's payload onto each left row, entirely over
  * `InternalRow`/`UnsafeProjection` (no external-Row round-trip; a
  * `Dataset.mapPartitions` formulation of the same merge measured
  * ~20× slower at sf10 from encoder ser/de alone, and the windowed
  * `last(struct)` formulation 2.4× a native ASOF operator from
  * per-row frame evaluation).
  *
  * Per-task state is one copied key row and one copied payload row —
  * O(1) memory regardless of partition size, no frame buffering.
  */
case class AsOfMergeLogical(
    key: Attribute,
    ts: Attribute,
    tag: Attribute,
    leftAttrs: Seq[Attribute],
    payloadAttrs: Seq[Attribute],
    payloadOut: Seq[AttributeReference],
    ageAttr: AttributeReference,
    tolerance: Option[Long],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = leftAttrs ++ payloadOut :+ ageAttr
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut :+ ageAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): AsOfMergeLogical =
    copy(child = newChild)
}


/** Column pruning through [[AsOfMergeLogical]]. Catalyst's built-in
  * ColumnPruning treats an unknown node conservatively: it inserts a
  * `Project` ABOVE it but cannot shrink what flows THROUGH it, so a
  * query aggregating two columns would still shuffle and sort every
  * left column (at sf10 that is the difference between a 3-narrow-
  * column exchange and one carrying a fat JSON string per row). This
  * rule runs inside the same fixed-point batch (injectOptimizerRule):
  * it drops unused left columns and unused payload slots from the
  * node and projects the child, and the built-in ColumnPruning then
  * pushes that projection through the union into both parquet scans.
  */
object AsOfMergePruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(_, m: AsOfMergeLogical) =>
      val needed = p.references
      val keptLeft = m.leftAttrs.filter(needed.contains)
      val keptPay = m.payloadAttrs.zip(m.payloadOut).filter { case (_, out) => needed.contains(out) }
      if (keptLeft.size == m.leftAttrs.size && keptPay.size == m.payloadAttrs.size) p
      else {
        val childNeeded =
          (Seq(m.key, m.ts, m.tag) ++ keptLeft ++ keptPay.map(_._1)).distinct
        p.copy(child = m.copy(
          leftAttrs = keptLeft,
          payloadAttrs = keptPay.map(_._1),
          payloadOut = keptPay.map(_._2),
          child = Project(childNeeded, m.child)))
      }
  }
}

/** Plans [[AsOfMergeLogical]]; registered through GraftExtensions and
  * self-healed into `spark.experimental.extraStrategies` by
  * [[graft.operators.AsOfJoin]] so the operator works in any session. */
object AsOfMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: AsOfMergeLogical =>
      AsOfMergeExec(m.key, m.ts, m.tag, m.leftAttrs, m.payloadAttrs,
        m.payloadOut, m.ageAttr, m.tolerance, planLater(m.child)) :: Nil
    case _ => Nil
  }
}

private[graft] case class AsOfMergeExec(
    key: Attribute,
    ts: Attribute,
    tag: Attribute,
    leftAttrs: Seq[Attribute],
    payloadAttrs: Seq[Attribute],
    payloadOut: Seq[AttributeReference],
    ageAttr: AttributeReference,
    tolerance: Option[Long],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = leftAttrs ++ payloadOut :+ ageAttr
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut :+ ageAttr)

  // ONE hash shuffle on the key; in-partition sort (key, ts, tag) so
  // each key's rows are contiguous and time-ordered, right rows (tag
  // 0) before left rows (tag 1) at equal ts — a right row AT the left
  // timestamp is visible to it. NULL keys group together (as a window
  // partition would); NULL timestamps sort first, so a left row with
  // NULL ts only ever sees NULL-ts right rows, which never establish
  // a match (age is undefined).
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(ts, Ascending), SortOrder(tag, Ascending)))
  // left rows are emitted in child order with key/ts untouched
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftAttrs.find(_.exprId == key.exprId).map(k => SortOrder(k, Ascending)).toSeq

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val tsOrd = childOutput.indexWhere(_.exprId == ts.exprId)
    val tagOrd = childOutput.indexWhere(_.exprId == tag.exprId)
    val keyExpr = key
    val payAttrs = payloadAttrs
    val outExprs = output
    val joinSchema = childOutput ++ payloadOut :+ ageAttr
    val tol = tolerance
    val nPay = payloadAttrs.size

    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val payProj = UnsafeProjection.create(payAttrs, childOutput)
      val outProj = UnsafeProjection.create(outExprs, joinSchema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(nPay + 1)
      val payTypes = payAttrs.map(_.dataType).toArray
      // Hand-rolled iterator: right rows are consumed inline while
      // scanning for the next left row — no per-row Iterator
      // allocation (a flatMap{Iterator.single/empty} formulation
      // measured ~20% slower on a 10 M-row merge from the per-row
      // iterator churn alone).
      new Iterator[InternalRow] {
        // running per-task state: current key + most recent right row
        private var curKey: UnsafeRow = null
        private var haveRight = false
        private var rightTsMicros = 0L
        private var carried: UnsafeRow = null
        private var nextLeft: InternalRow = null

        private def advance(): Unit = {
          nextLeft = null
          while (nextLeft == null && iter.hasNext) {
            val row = iter.next()
            val k = keyProj(row)
            if (curKey == null || k != curKey) {
              curKey = k.copy(); haveRight = false
            }
            if (row.getInt(tagOrd) == 0) { // right row: update the carry
              if (!row.isNullAt(tsOrd)) {
                haveRight = true
                rightTsMicros = row.getLong(tsOrd)
                carried = payProj(row).copy() // sort iterators reuse rows
              }
            } else nextLeft = row
          }
        }

        advance()
        override def hasNext: Boolean = nextLeft != null
        override def next(): InternalRow = {
          val row = nextLeft
          val matched = haveRight && !row.isNullAt(tsOrd)
          // age in whole seconds (floor(epoch) difference), ordering
          // at full microsecond precision
          val age =
            if (matched)
              Math.floorDiv(row.getLong(tsOrd), 1000000L) -
                Math.floorDiv(rightTsMicros, 1000000L)
            else 0L
          val ok = matched && tol.forall(age <= _)
          var j = 0
          while (j < nPay) {
            extra.update(j,
              if (ok && !carried.isNullAt(j)) carried.get(j, payTypes(j)) else null)
            j += 1
          }
          extra.update(nPay, if (ok) age else null)
          val out = outProj(joined(row, extra))
          advance()
          out
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): AsOfMergeExec =
    copy(child = newChild)
}
