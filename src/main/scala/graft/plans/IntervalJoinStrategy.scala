package graft.plans

import graft.rangejoin.LongIntervalIndex
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan, NO_BROADCAST_HASH, SHUFFLE_HASH}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/**
 * Planner strategy: claim Inner `Join` nodes whose condition is an interval
 * overlap (equi-keys + two opposite range predicates) and plan them as
 * [[IntervalJoinExec]].
 *
 * This replaces the reference's physical-optimizer rewrite of
 * HashJoinExec/NestedLoopJoinExec
 * (reference: sequila/sequila-core/src/physical_planner/sequila_physical_planner.rs:27-148).
 * Spark has no post-physical rewrite hook, but injected strategies are
 * consulted *before* the built-in `JoinSelection`, so claiming the logical
 * Join here achieves the same effect without the reference's
 * `join_selection`-removal surgery (session_context.rs:30-32).
 *
 * Mode selection ([[modeFor]]): build side below
 * `spark.sql.autoBroadcastJoinThreshold` → broadcast (reference
 * CollectLeft); else hash-partitioned on the equi-keys (reference
 * Partitioned); build-side join hints override both. A pure range join (no
 * equi-keys) has nothing to partition on — it broadcasts, mirroring the
 * reference's NestedLoopJoin conversion that injects the dummy key
 * `lit(1) = lit(1)` (sequila_physical_planner.rs:127-148), unless its build
 * side is over the threshold.
 *
 * Stateless: every conf read goes to `SQLConf.get`, the conf of the
 * session planning the query, so one instance serves every session and
 * a cloned session's own pins take effect.
 */
object IntervalJoinStrategy extends SparkStrategy {

  private def enabled: Boolean = SQLConf.get
    .getConfString(graft.GraftSession.PreferIntervalJoin, "true").toBoolean

  /** The build side is under `spark.sql.autoBroadcastJoinThreshold`; a
    * threshold of -1 (or 0) never broadcasts by size. */
  private def fitsBroadcast(build: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold > 0 && build.stats.sizeInBytes <= threshold
  }

  /** The distribution mode of an interval join with this build side.
    * A build-side hint decides first, in Spark's JoinSelection vocabulary:
    * BROADCAST broadcasts, SHUFFLE_HASH / NO_BROADCAST_HASH partition a
    * keyed join. Otherwise a build that fits the broadcast threshold
    * broadcasts and a keyed one partitions. A keyless build over the
    * threshold gets None: it cannot be broadcast (driver OOM at scale) and
    * has no key to partition on. The reference unconditionally converts
    * NLJ (sequila_physical_planner.rs:127-148); a Join declines here and
    * lets Spark plan it (BNLJ: correct, just slower). */
  def modeFor(build: LogicalPlan, hasKeys: Boolean,
      buildHint: Option[HintInfo]): Option[IntervalJoinMode] =
    buildHint.flatMap(_.strategy) match {
      case Some(BROADCAST) => Some(BroadcastMode)
      case Some(SHUFFLE_HASH | NO_BROADCAST_HASH) if hasKeys => Some(PartitionedMode)
      case _ if fitsBroadcast(build) => Some(BroadcastMode)
      case _ if hasKeys => Some(PartitionedMode)
      case _ => None
    }

  /** The explicit count / nearest / as-of nodes have no stock plan to
    * fall back to, so a keyless build broadcasts whatever its size. */
  private def explicitMode(build: LogicalPlan, hasKeys: Boolean,
      buildHint: Option[HintInfo] = None): IntervalJoinMode =
    modeFor(build, hasKeys, buildHint).getOrElse(BroadcastMode)

  /** Probe-side variants — all beyond the reference's Inner-only support —
    * as (build is the left child, exec join type, reorder projection).
    * RightOuter NULL-pads probe rows with no match; LeftOuter is RightOuter
    * with sides swapped plus a projection restoring the column order;
    * LeftSemi / LeftAnti / ExistenceJoin (Mark, what EXISTS compiles to
    * under a disjunction) preserve the probe side. The reference plumbs
    * Mark but never executes it (interval_join.rs:280-302). */
  private val probeSide
      : PartialFunction[JoinType, (Boolean, IntervalJoinType, Boolean)] = {
    case RightOuter => (true, RightOuterJoin, false)
    case LeftOuter => (false, RightOuterJoin, true)
    case LeftSemi => (false, SemiJoin, false)
    case LeftAnti => (false, AntiJoin, false)
    case ExistenceJoin(_) => (false, MarkJoin, false)
  }

  /** The exec joining `ic`'s left side as build, or (`swap`) its right. */
  private def joinExec(l: LogicalPlan, r: LogicalPlan, ic: IntervalCondition,
      swap: Boolean, jt: IntervalJoinType, mode: IntervalJoinMode,
      algorithm: String, markAttr: Option[Attribute] = None): SparkPlan =
    if (swap)
      IntervalJoinExec(planLater(r), planLater(l), ic.rightKeys, ic.leftKeys,
        ic.rightStart, ic.rightEnd, ic.leftStart, ic.leftEnd,
        ic.residual, jt, mode, algorithm, markAttr)
    else
      IntervalJoinExec(planLater(l), planLater(r), ic.leftKeys, ic.rightKeys,
        ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
        ic.residual, jt, mode, algorithm, markAttr)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val algorithm = SQLConf.get.getConfString(
      graft.GraftSession.IntervalJoinAlgorithm, "superintervals")
    val nearest = LongIntervalIndex.canonical(algorithm) == "nearest"
    // nearest semantics are Inner-only and ride the superintervals
    // structure; every other join type runs the conf's overlap index
    val overlapAlg = if (nearest) "superintervals" else algorithm
    plan match {
      // overlap-count node (from IntervalCountRewrite's aggregate pushdown)
      case IntervalCountPlan(l, r, cond, groupAttrs, buildHint, countAttr) =>
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) if ic.residual.isEmpty =>
            IntervalCountExec(
              planLater(l), planLater(r),
              ic.leftKeys, ic.rightKeys,
              ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
              explicitMode(l, ic.leftKeys.nonEmpty, buildHint), groupAttrs,
              countAttr) :: Nil
          case _ => Nil // unreachable — the rewrite only fires on extractable conditions
        }
      // explicit nearest-join node (graft.operators.NearestJoin API)
      case NearestIntervalJoin(l, r, cond) =>
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) if ic.residual.isEmpty =>
            joinExec(l, r, ic, swap = false, NearestJoin,
              explicitMode(l, ic.leftKeys.nonEmpty), "superintervals") :: Nil
          case _ => Nil // unreachable — NearestJoin.apply validates eagerly
        }
      // explicit as-of join node (graft.operators.AsofJoin API): times are
      // indexed as degenerate [t, t] intervals, so it reuses the whole
      // build/probe machinery incl. both distribution modes
      case AsofIntervalJoin(l, r, cond) =>
        AsofCondition.extract(cond, l, r) match {
          case Some(x) =>
            IntervalJoinExec(
              planLater(l), planLater(r),
              x.leftKeys, x.rightKeys,
              x.buildTime, x.buildTime, x.probeTime, x.probeTime,
              x.residual, AsofJoin(x.forward, x.strict),
              explicitMode(l, x.leftKeys.nonEmpty), "superintervals") :: Nil
          case _ => Nil // unreachable — AsofJoin.apply validates eagerly
        }
      case Join(l, r, jt, Some(cond), hint) if enabled && probeSide.isDefinedAt(jt) =>
        val (buildLeft, ijt, reorder) = probeSide(jt)
        val (build, buildHint) =
          if (buildLeft) (l, hint.leftHint) else (r, hint.rightHint)
        val mark = jt match { case ExistenceJoin(e) => Some(e); case _ => None }
        for {
          ic <- IntervalCondition.extract(cond, l, r).toSeq
          m <- modeFor(build, ic.leftKeys.nonEmpty, buildHint).toSeq
        } yield {
          val exec = joinExec(l, r, ic, swap = !buildLeft, ijt, m,
            overlapAlg, mark)
          if (!reorder) exec
          else ProjectExec((l.output ++ r.output.map(_.withNullability(true)))
            .map(a => a: NamedExpression), exec)
        }
      // FullOuter: inner pairs + both-side NULL padding. Needs the
      // per-partition match bitmap, so PartitionedMode only — which needs an
      // equi-key to partition on; keyless FULL OUTER falls back to Spark's
      // BNLJ (correct, slower). Goes beyond the reference, which plumbs Full
      // but never executes it (interval_join.rs:280-302).
      case Join(l, r, FullOuter, Some(cond), _) if enabled =>
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) if ic.leftKeys.nonEmpty =>
            joinExec(l, r, ic, swap = false, FullOuterJoin, PartitionedMode,
              overlapAlg) :: Nil
          case _ => Nil
        }
      case Join(l, r, Inner, Some(cond), hint) if enabled =>
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) =>
            if (nearest && ic.residual.nonEmpty) {
              // nearest semantics with extra filters is ill-defined, and a
              // silent fallback to Spark's stock join would return OVERLAP
              // pairs — different row semantics than the conf asked for.
              // Fail loudly instead of changing answers.
              throw new IllegalStateException(
                "[GRAFT_INTERVAL_JOIN] algorithm=nearest cannot apply to a " +
                  "join with residual conjuncts beyond the range pair " +
                  s"(${ic.residual.get.sql}); use graft.operators.NearestJoin " +
                  "with the bare overlap condition, or unset the algorithm")
            }
            modeFor(l, ic.leftKeys.nonEmpty, hint.leftHint) match {
              case None if nearest =>
                // declining under algorithm=nearest would silently run
                // Spark's stock join with OVERLAP semantics — a
                // stats-dependent answer flip. Fail loudly instead.
                throw new IllegalStateException(
                  "[GRAFT_INTERVAL_JOIN] algorithm=nearest: keyless join " +
                    "whose build side exceeds the broadcast threshold " +
                    "cannot plan as a nearest join; raise " +
                    "spark.sql.autoBroadcastJoinThreshold or add equi-keys")
              case None => Nil
              case Some(m) =>
                joinExec(l, r, ic, swap = false,
                  if (nearest) NearestJoin else OverlapJoin, m, overlapAlg) :: Nil
            }
          case None => Nil
        }
      case _ => Nil
    }
  }
}
