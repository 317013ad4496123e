package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.TopKByScore

/** Optimizer rule: rewrite the grouped-top-k idiom
  *
  * {{{ Filter(rn <= k, Window(row_number() OVER
  *     (PARTITION BY p ORDER BY score DESC, tie ASC) AS rn, child)) }}}
  *
  * into the bounded-buffer TopKByScore aggregate + posexplode — the
  * map-side-combining plan (shuffle ≤ partitions × groups × k rows)
  * instead of shuffling the ENTIRE child into the window partitions.
  * See functions.TopKByScore for the operator itself; this rule makes
  * the optimization available to users who write the standard window
  * form.
  *
  * Applicability is deliberately narrow — the rewrite fires only when
  * it is provably semantics-preserving:
  *   - window function is exactly `row_number()` with the default
  *     running frame, ordered by (score DESC NULLS LAST, tie ASC
  *     NULLS FIRST) — the default null orderings, which TopKByScore's
  *     buffer reproduces exactly since round 10 (null score ranks
  *     after every double, null tie before every long — spec-proven
  *     window parity incl. -Inf/null collisions);
  *   - score is DOUBLE and tie BIGINT; when either is NULLABLE the
  *     rewrite additionally requires the session opt-in
  *     `spark.graft.topkRewrite.acceptNullable=true`. This is a
  *     PROFITABILITY gate, not a correctness one: nullable scan
  *     columns are how users reach this idiom on raw fact tables,
  *     where group cardinality is typically high — and the aggregate
  *     plan loses to the window + WindowGroupLimit plan when groups
  *     approach rows (measured w02 sf10, 1.5 M groups from 15 M rows:
  *     3.1 s vs 2.3 s, and the object-hash map cannot hold the
  *     buffers without its sort fallback). Group cardinality is
  *     unknowable statically without CBO stats, so nullable (≈ raw
  *     scan) columns default to the window plan and computed
  *     (non-nullable ≈ deliberate) top-k idioms get the bounded
  *     aggregate, which never skews: a 3-group rank window over a
  *     100 TB fact shuffles everything into 3 partitions, the
  *     aggregate never does;
  *   - the filter is `rn <= lit(k)` / `rn < lit(k+1)` with k ≤ 1024.
  * Everything else keeps the window plan (often rightly so: with many
  * groups and few rows per group the window's single shuffle is the
  * better plan).
  *
  * The rule is ALWAYS ON for sessions built with GraftExtensions (and
  * can be added to any session via
  * `spark.experimental.extraOptimizations`); set
  * `spark.graft.topkRewrite.enabled=false` to turn it off per session
  * or per query without rebuilding the session.
  *
  * Output attributes keep the ORIGINAL exprIds (child columns + rn),
  * so parent operators are untouched.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.topkRewrite.enabled"

  private object IntLimit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(partitionSpec,
            Seq(SortOrder(score, Descending, NullsLast, _),
                SortOrder(tie, Ascending, NullsFirst, _)),
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
          _, _, child, _)) =>
      val rnAttr = a.toAttribute
      val kOpt = cond match {
        case LessThanOrEqual(r: AttributeReference, IntLimit(k))
          if r.exprId == rnAttr.exprId => Some(k)
        case LessThan(r: AttributeReference, IntLimit(k))
          if r.exprId == rnAttr.exprId => Some(k - 1)
        case _ => None
      }
      val nullableOk = (!score.nullable && !tie.nullable) ||
        conf.getConfString("spark.graft.topkRewrite.acceptNullable", "false").toBoolean
      val safe = kOpt.exists(k => k >= 1 && k <= 1024) &&
        score.dataType == DoubleType && tie.dataType == LongType &&
        nullableOk && partitionSpec.nonEmpty
      if (!safe) f
      else {
        val k = kOpt.get
        // Aggregate: group by the partition expressions, carry the
        // child row as the payload struct
        val payloadFields = child.output.flatMap(c => Seq(Literal(c.name), c))
        val payload = CreateNamedStruct(payloadFields)
        val topkAgg = AggregateExpression(
          TopKByScore(score, tie, payload, k),
          org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = false)
        val topkAlias = Alias(topkAgg, "__topk")()
        // group columns need not appear in the output: the final
        // Project reconstructs every child column from the payload
        val agg = Aggregate(partitionSpec, Seq(topkAlias), child)

        // posexplode the best-first array: pos + 1 == row_number.
        // unrequiredChildIndex drops the k-element array column from
        // the Generate output (only pos/entry are consumed above, and
        // this rule runs after ColumnPruning already did its pass).
        val gen = Generate(PosExplode(topkAlias.toAttribute),
          unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
          generatorOutput = Seq(
            AttributeReference("__pos", IntegerType, nullable = false)(),
            AttributeReference("__entry", TopKByScore(score, tie, payload, k)
              .dataType.asInstanceOf[ArrayType].elementType, nullable = false)()),
          agg)
        val pos = gen.generatorOutput.head
        val entry = gen.generatorOutput(1)

        // reconstruct the original output under the ORIGINAL exprIds
        val payloadCol = GetStructField(entry,
          2, Some("payload")) // (score, tiebreak, payload)
        val restored = child.output.zipWithIndex.map { case (attr, i) =>
          Alias(GetStructField(payloadCol, i, Some(attr.name)), attr.name)(
            exprId = attr.exprId, qualifier = attr.qualifier)
        }
        // row_number() is IntegerType; pos+1 keeps the type AND the
        // original exprId so parents are untouched
        val rnRestored = Alias(Add(pos, Literal(1)), rnAttr.name)(
          exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
        Project(restored :+ rnRestored, gen)
      }
  }
}
