package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BinaryNode, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/**
 * Logical node producing per-partition partial overlap counts, optionally
 * grouped by equi-key attributes: rows of `(groupAttrs..., partialCount)`.
 *
 * Exists for the aggregate-pushdown rewrite
 * `COUNT(*) [GROUP BY key] over (a ⋈_overlap b)` →
 * `SUM(partial) [GROUP BY key]` — the flagship query shape of the
 * reference (/root/reference/queries/q1-coitrees.sql), and the completed
 * form of its experimental CountOverlaps algorithm (reference:
 * interval_join.rs:750 — incomplete there, SURVEY §2 #12). Counting
 * overlaps of [s,e] against a key's build set needs no pair enumeration:
 * with starts and ends sorted separately,
 * `count = #(start <= e) − #(end < s)` — two binary searches per probe
 * row, O(log n) instead of O(matches).
 */
case class IntervalCountPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    condition: Expression,
    groupAttrs: Seq[Attribute],
    // the join's build-side hint: the count runs in the mode it names
    buildHint: Option[HintInfo],
    countAttr: AttributeReference =
      AttributeReference("partialOverlapCount", LongType, nullable = false)())
  extends BinaryNode {

  override def output: Seq[Attribute] = groupAttrs :+ countAttr

  // countAttr is generated by this node, not drawn from children
  override def producedAttributes: AttributeSet = AttributeSet(countAttr)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalCountPlan =
    copy(left = newLeft, right = newRight)
}

/**
 * Optimizer rule: rewrite `COUNT(*)` (or `COUNT(1)`) — group-less or
 * grouped by equi-key attributes — directly above a qualifying
 * interval-overlap Inner join into `SUM(partialOverlapCount)` over
 * [[IntervalCountPlan]]. Aggregate exprIds are preserved so references
 * above stay valid. Grouped semantics match the inner join exactly: a key
 * with zero overlapping pairs emits no partial row (instead of a 0 row).
 * Stateless: conf reads go to `conf` (`SQLConf.get`, the planning
 * session's conf).
 */
object IntervalCountRewrite extends Rule[LogicalPlan] {

  private def isCountStar(e: Expression): Boolean = e match {
    case AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _) => true
    case _ => false
  }

  /** Match a Join directly below, or through the attribute-only Project
    * that column pruning leaves between the Aggregate and the join. */
  private object JoinBelow {
    def unapply(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case logical.Project(pl, j: Join)
          if pl.forall(_.isInstanceOf[AttributeReference]) => Some(j)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = conf.getConfString(graft.GraftSession.PreferIntervalJoin,
      "true").toBoolean
    // fire only under the DEFAULT algorithm (any of its aliases):
    // IntervalCountExec has no per-algorithm dispatch (its sorted-array
    // counting IS the superintervals structure), so rewriting under a
    // pinned lapper/ailist/intervaltree would silently measure and verify
    // the same shared path instead of the index the user (or an A/B
    // bench) explicitly asked to exercise
    val defaultAlg = graft.rangejoin.LongIntervalIndex.canonical(
      conf.getConfString(graft.GraftSession.IntervalJoinAlgorithm,
        "superintervals")) == "superintervals"
    if (!enabled || !defaultAlg) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs,
          JoinBelow(Join(l, r, Inner, Some(cond), hint)), _)
          if groupExprs.forall(_.isInstanceOf[AttributeReference]) &&
            aggExprs.nonEmpty && aggExprs.forall {
              case Alias(ae, _) if isCountStar(ae) => true
              case a: AttributeReference =>
                groupExprs.exists(_.semanticEquals(a))
              case _ => false
            } && aggExprs.exists {
              case Alias(ae, _) => isCountStar(ae)
              case _ => false
            } =>
        val groupAttrs = groupExprs.map(_.asInstanceOf[AttributeReference])
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) if ic.residual.isEmpty &&
              // every grouping attribute must be one of the equi-key
              // attributes (either side) so the probe can evaluate it
              groupAttrs.forall(ga =>
                ic.leftKeys.exists(_.semanticEquals(ga)) ||
                ic.rightKeys.exists(_.semanticEquals(ga))) &&
              // skip the rewrite where the Inner join would decline (a
              // keyless build over the broadcast threshold): the
              // unrewritten plan stays correct (BNLJ) instead of
              // collecting an oversized build side to the driver
              IntervalJoinStrategy.modeFor(l, ic.leftKeys.nonEmpty,
                hint.leftHint).isDefined =>
            val cnt = IntervalCountPlan(l, r, cond, groupAttrs, hint.leftHint)
            // SUM(long) is nullable; COUNT is not — coalesce to 0, keep
            // each original exprId so references above stay valid.
            val fixed = agg.aggregateExpressions.map {
              case al @ Alias(ae, name) if isCountStar(ae) =>
                Alias(Coalesce(Seq(
                  AggregateExpression(Sum(cnt.countAttr), Complete,
                    isDistinct = false),
                  Literal(0L))), name)(exprId = al.exprId)
              case other => other
            }
            agg.copy(aggregateExpressions = fixed, child = cnt)
          case _ => agg
        }
    }
  }
}
