package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.types._

/**
 * Logical node for the explicit AS-OF join API
 * ([[graft.operators.AsofJoin]]): per probe (right) row, the build (left)
 * row with the greatest time <= probe time (or mirrored/strict, per the
 * condition's inequality), NULL-padded when none qualifies. Output schema
 * marks the build side nullable, and the dedicated node keeps the
 * optimizer from applying Inner-join reasoning the one-row-per-probe
 * semantics violate (beyond the reference — it has no as-of operator).
 */
case class AsofIntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    condition: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output.map(_.withNullability(true)) ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofIntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Recognizer for AS-OF conditions: optional equi-keys, ONE time-axis
  * inequality between two BARE time columns (direction selects backward
  * `build.t <= probe.t` = latest at-or-before vs forward
  * `build.t >= probe.t` = earliest at-or-after; strict ops exclude
  * equality), plus optional residual bounds referencing both sides
  * (merge_asof tolerance). Only attribute-vs-attribute inequalities
  * qualify as the axis — a composite operand like `p.t - 60` is a
  * tolerance bound by construction, so axis detection cannot be fooled
  * by conjunct order. */
object AsofCondition extends PredicateHelper {

  case class Extracted(
      leftKeys: Seq[Expression],
      rightKeys: Seq[Expression],
      buildTime: Expression,
      probeTime: Expression,
      forward: Boolean,
      strict: Boolean,
      /** Leftover conjuncts, evaluated on the picked (build, probe) pair;
        * a failing residual NULL-pads like a miss. This is pandas
        * merge_asof's `tolerance` (e.g. `b.t >= p.t - 3600L`): for a
        * time-monotone residual, filter-after-pick ≡ pick-within-bound,
        * since any earlier candidate is farther. */
      residual: Option[Expression])

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Same temporal normalization as [[IntervalCondition]]: timestamps to
    * epoch micros (NTZ via the timezone-free [[NtzMicros]]), dates to
    * epoch days — as-of on raw TIMESTAMP columns runs on the Long index
    * (strict = 1-micro/1-day shift, exact). */
  private def norm(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMicros(e)
    case TimestampNTZType => NtzMicros(e)
    case DateType => UnixDate(e)
    case _ => e
  }

  def extract(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[Extracted] = {
    def fromLeft(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)

    // the time AXIS must compare two bare columns — composite operands
    // (arithmetic, casts) are tolerance bounds, never the axis
    def bare(e: Expression): Boolean = e.isInstanceOf[Attribute]

    var leftKeys = Vector.empty[Expression]
    var rightKeys = Vector.empty[Expression]
    // (buildTime, probeTime, forward, strict)
    var time: Option[(Expression, Expression, Boolean, Boolean)] = None
    var residual = Vector.empty[Expression]
    var ok = true

    splitConjunctivePredicates(cond).foreach {
      case EqualTo(a, b) if fromLeft(a) && fromRight(b) =>
        leftKeys :+= a; rightKeys :+= b
      case EqualTo(a, b) if fromRight(a) && fromLeft(b) =>
        leftKeys :+= b; rightKeys :+= a
      case EqualNullSafe(a, b)
          if (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b)) =>
        // a cross-side <=> would otherwise fall through to `residual` and
        // the join would plan KEYLESS — one GLOBAL pick, then the
        // equality as a post-pick filter: silently wrong per-key as-of
        // results. The build also skips NULL keys, so null<=>null could
        // not be honored anyway. Reject; the caller sees a clear error
        // and can write `=` instead.
        ok = false
      case c =>
        val axis: Option[(Expression, Expression, Boolean, Boolean)] =
          if (time.nonEmpty) None
          else c match {
            case LessThanOrEqual(a, b) if bare(a) && bare(b) &&
                fromLeft(a) && fromRight(b) &&
                integral(a) && integral(b) => Some((a, b, false, false))
            case LessThanOrEqual(a, b) if bare(a) && bare(b) &&
                fromRight(a) && fromLeft(b) &&
                integral(a) && integral(b) => Some((b, a, true, false))
            case GreaterThanOrEqual(a, b) if bare(a) && bare(b) &&
                fromLeft(a) && fromRight(b) &&
                integral(a) && integral(b) => Some((a, b, true, false))
            case GreaterThanOrEqual(a, b) if bare(a) && bare(b) &&
                fromRight(a) && fromLeft(b) &&
                integral(a) && integral(b) => Some((b, a, false, false))
            case LessThan(a, b) if bare(a) && bare(b) &&
                fromLeft(a) && fromRight(b) &&
                integral(a) && integral(b) => Some((a, b, false, true))
            case LessThan(a, b) if bare(a) && bare(b) &&
                fromRight(a) && fromLeft(b) &&
                integral(a) && integral(b) => Some((b, a, true, true))
            case GreaterThan(a, b) if bare(a) && bare(b) &&
                fromLeft(a) && fromRight(b) &&
                integral(a) && integral(b) => Some((a, b, true, true))
            case GreaterThan(a, b) if bare(a) && bare(b) &&
                fromRight(a) && fromLeft(b) &&
                integral(a) && integral(b) => Some((b, a, false, true))
            case _ => None
          }
        axis match {
          case Some(t) => time = Some(t)
          case None =>
            // residual bounds must reference BOTH sides (a tolerance). A
            // single-side predicate under filter-after-pick would silently
            // mean something different than the same SQL filter (NULL-pad
            // the pick instead of excluding the row pre-join) — reject it
            // and tell the user to pre-filter the input instead.
            if (!(c.references.intersect(left.outputSet).nonEmpty &&
                  c.references.intersect(right.outputSet).nonEmpty))
              ok = false
            else residual :+= c
        }
    }

    time match {
      case Some((bt, pt, fwd, strict)) if ok =>
        Some(Extracted(leftKeys, rightKeys, norm(bt), norm(pt), fwd, strict,
          residual.reduceOption(And)))
      case _ => None
    }
  }
}
