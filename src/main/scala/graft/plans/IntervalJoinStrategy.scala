package graft.plans

import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
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
 * Mode selection: build (left) side below `spark.sql.autoBroadcastJoinThreshold`
 * → broadcast (reference CollectLeft); else hash-partitioned on the
 * equi-keys (reference Partitioned). A pure range join (no equi-keys) has
 * nothing to partition on — it always broadcasts, mirroring the reference's
 * NestedLoopJoin conversion that injects the dummy key `lit(1) = lit(1)`
 * (sequila_physical_planner.rs:127-148).
 *
 * Stateless: every conf read goes to `SQLConf.get`, the conf of the
 * session planning the query, so one instance serves every session and
 * a cloned session's own pins take effect.
 */
object IntervalJoinStrategy extends SparkStrategy {

  private def conf(key: String, default: String): String =
    SQLConf.get.getConfString(key, default)

  private def enabled: Boolean =
    conf(graft.GraftSession.PreferIntervalJoin, "true").toBoolean

  /** Shared mode selection for probe-side variants (build side given). */
  private def pickMode(build: LogicalPlan, hasKeys: Boolean)
      : Option[IntervalJoinMode] = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    val fitsBroadcast = threshold > 0 && build.stats.sizeInBytes <= threshold
    conf(graft.GraftSession.IntervalJoinForceMode, "").toLowerCase match {
      case "broadcast" => Some(BroadcastMode)
      case "partitioned" if hasKeys => Some(PartitionedMode)
      case _ =>
        if (hasKeys) Some(if (fitsBroadcast) BroadcastMode else PartitionedMode)
        else if (fitsBroadcast) Some(BroadcastMode)
        else None
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // overlap-count node (from IntervalCountRewrite's aggregate pushdown)
    case IntervalCountPlan(l, r, cond, groupAttrs, countAttr) =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) if ic.residual.isEmpty =>
          val threshold = SQLConf.get.autoBroadcastJoinThreshold
          val fitsBroadcast = threshold > 0 && l.stats.sizeInBytes <= threshold
          val mode =
            conf(graft.GraftSession.IntervalJoinForceMode, "").toLowerCase match {
              case "broadcast" => BroadcastMode
              case "partitioned" if ic.leftKeys.nonEmpty => PartitionedMode
              case _ =>
                if (ic.leftKeys.isEmpty || fitsBroadcast) BroadcastMode
                else PartitionedMode
            }
          IntervalCountExec(
            planLater(l), planLater(r),
            ic.leftKeys, ic.rightKeys,
            ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
            mode, groupAttrs, countAttr) :: Nil
        case _ => Nil // unreachable — the rewrite only fires on extractable conditions
      }
    // explicit nearest-join node (graft.operators.NearestJoin API)
    case NearestIntervalJoin(l, r, cond) =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) if ic.residual.isEmpty =>
          val threshold = SQLConf.get.autoBroadcastJoinThreshold
          val fitsBroadcast = threshold > 0 && l.stats.sizeInBytes <= threshold
          // forceMode applies here like on every sibling node type, so
          // tests can pin the partitioned nearest path deterministically
          val mode =
            conf(graft.GraftSession.IntervalJoinForceMode, "").toLowerCase match {
              case "broadcast" => BroadcastMode
              case "partitioned" if ic.leftKeys.nonEmpty => PartitionedMode
              case _ =>
                if (ic.leftKeys.isEmpty || fitsBroadcast) BroadcastMode
                else PartitionedMode
            }
          IntervalJoinExec(
            planLater(l), planLater(r),
            ic.leftKeys, ic.rightKeys,
            ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
            None, NearestJoin, mode, "superintervals") :: Nil
        case _ => Nil // unreachable — NearestJoin.apply validates eagerly
      }
    // explicit as-of join node (graft.operators.AsofJoin API): times are
    // indexed as degenerate [t, t] intervals, so it reuses the whole
    // build/probe machinery incl. both distribution modes
    case AsofIntervalJoin(l, r, cond) =>
      AsofCondition.extract(cond, l, r) match {
        case Some(x) =>
          val threshold = SQLConf.get.autoBroadcastJoinThreshold
          val fitsBroadcast = threshold > 0 && l.stats.sizeInBytes <= threshold
          val mode =
            conf(graft.GraftSession.IntervalJoinForceMode, "").toLowerCase match {
              case "broadcast" => BroadcastMode
              case "partitioned" if x.leftKeys.nonEmpty => PartitionedMode
              case _ =>
                if (x.leftKeys.isEmpty || fitsBroadcast) BroadcastMode
                else PartitionedMode
            }
          IntervalJoinExec(
            planLater(l), planLater(r),
            x.leftKeys, x.rightKeys,
            x.buildTime, x.buildTime, x.probeTime, x.probeTime,
            x.residual, AsofJoin(x.forward, x.strict), mode,
            "superintervals") :: Nil
        case _ => Nil // unreachable — AsofJoin.apply validates eagerly
      }
    // probe-side variants — all beyond the reference's Inner-only support.
    // RightOuter: build = left, NULL-pad probe rows with no match.
    case Join(l, r, RightOuter, Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          pickMode(l, ic.leftKeys.nonEmpty).map { m =>
            IntervalJoinExec(planLater(l), planLater(r),
              ic.leftKeys, ic.rightKeys,
              ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
              ic.residual, RightOuterJoin, m, "superintervals") :: Nil
          }.getOrElse(Nil)
        case None => Nil
      }
    // LeftOuter ≡ RightOuter with sides swapped + a reorder projection.
    case Join(l, r, LeftOuter, Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          pickMode(r, ic.leftKeys.nonEmpty).map { m =>
            val swapped = IntervalJoinExec(planLater(r), planLater(l),
              ic.rightKeys, ic.leftKeys,
              ic.rightStart, ic.rightEnd, ic.leftStart, ic.leftEnd,
              ic.residual, RightOuterJoin, m, "superintervals")
            ProjectExec(
              (l.output ++ r.output.map(_.withNullability(true)))
                .map(a => a: org.apache.spark.sql.catalyst.expressions.NamedExpression),
              swapped) :: Nil
          }.getOrElse(Nil)
        case None => Nil
      }
    // FullOuter: inner pairs + both-side NULL padding. Needs the
    // per-partition match bitmap, so PartitionedMode only — which needs an
    // equi-key to partition on; keyless FULL OUTER falls back to Spark's
    // BNLJ (correct, slower). Goes beyond the reference, which plumbs Full
    // but never executes it (interval_join.rs:280-302).
    case Join(l, r, FullOuter, Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) if ic.leftKeys.nonEmpty =>
          IntervalJoinExec(planLater(l), planLater(r),
            ic.leftKeys, ic.rightKeys,
            ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
            ic.residual, FullOuterJoin, PartitionedMode,
            "superintervals") :: Nil
        case _ => Nil
      }
    // LeftSemi/LeftAnti: preserved side = probe, filtering side = build.
    case Join(l, r, LeftSemi, Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          pickMode(r, ic.leftKeys.nonEmpty).map { m =>
            IntervalJoinExec(planLater(r), planLater(l),
              ic.rightKeys, ic.leftKeys,
              ic.rightStart, ic.rightEnd, ic.leftStart, ic.leftEnd,
              ic.residual, SemiJoin, m, "superintervals") :: Nil
          }.getOrElse(Nil)
        case None => Nil
      }
    // ExistenceJoin (Mark): preserved side = probe, appending the exists
    // boolean — what EXISTS compiles to under a disjunction. The reference
    // plumbs Mark but never executes it (interval_join.rs:280-302).
    case Join(l, r, ExistenceJoin(exists), Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          pickMode(r, ic.leftKeys.nonEmpty).map { m =>
            IntervalJoinExec(planLater(r), planLater(l),
              ic.rightKeys, ic.leftKeys,
              ic.rightStart, ic.rightEnd, ic.leftStart, ic.leftEnd,
              ic.residual, MarkJoin, m, "superintervals",
              markAttr = Some(exists)) :: Nil
          }.getOrElse(Nil)
        case None => Nil
      }
    case Join(l, r, LeftAnti, Some(cond), _) if enabled =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          pickMode(r, ic.leftKeys.nonEmpty).map { m =>
            IntervalJoinExec(planLater(r), planLater(l),
              ic.rightKeys, ic.leftKeys,
              ic.rightStart, ic.rightEnd, ic.leftStart, ic.leftEnd,
              ic.residual, AntiJoin, m, "superintervals") :: Nil
          }.getOrElse(Nil)
        case None => Nil
      }
    case Join(l, r, Inner, Some(cond), hint)
        if conf(graft.GraftSession.PreferIntervalJoin, "true").toBoolean =>
      IntervalCondition.extract(cond, l, r) match {
        case Some(ic) =>
          val algorithm =
            conf(graft.GraftSession.IntervalJoinAlgorithm, "superintervals")
          val nearest = algorithm.toLowerCase == "nearest" ||
            algorithm.toLowerCase == "coitreesnearest" // reference's name
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
          } else {
            val threshold = SQLConf.get.autoBroadcastJoinThreshold
            val leftSize = l.stats.sizeInBytes
            val fitsBroadcast = threshold > 0 && leftSize <= threshold
            // user join hints steer mode selection (same vocabulary as
            // Spark's JoinSelection): BROADCAST on the build (left) side
            // forces broadcast, SHUFFLE_HASH / NO_BROADCAST_HASH on it
            // forces partitioned
            def strat(h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]) =
              h.flatMap(_.strategy)
            import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, NO_BROADCAST_HASH, SHUFFLE_HASH}
            val hinted: Option[IntervalJoinMode] = strat(hint.leftHint) match {
              case Some(BROADCAST) => Some(BroadcastMode)
              case Some(SHUFFLE_HASH) | Some(NO_BROADCAST_HASH)
                  if ic.leftKeys.nonEmpty => Some(PartitionedMode)
              case _ => None
            }
            // Mode selection; `forceMode` exists so tests / verification
            // entries can pin the partitioned code path deterministically.
            val mode: Option[IntervalJoinMode] =
              conf(graft.GraftSession.IntervalJoinForceMode, "").toLowerCase match {
                case "broadcast" => Some(BroadcastMode)
                case "partitioned" if ic.leftKeys.nonEmpty => Some(PartitionedMode)
                case _ if hinted.nonEmpty => hinted
                case _ =>
                  if (ic.leftKeys.nonEmpty)
                    Some(if (fitsBroadcast) BroadcastMode else PartitionedMode)
                  else if (fitsBroadcast) Some(BroadcastMode)
                  // A keyless range join with a big build side cannot be
                  // broadcast (driver OOM at scale) and has no key to
                  // partition on — decline and let Spark plan it (BNLJ):
                  // correct, just slower. The reference unconditionally
                  // converts NLJ (sequila_physical_planner.rs:127-148); we
                  // deliberately guard it.
                  else None
              }
            val joinType = if (nearest) NearestJoin else OverlapJoin
            mode match {
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
                IntervalJoinExec(
                  planLater(l), planLater(r),
                  ic.leftKeys, ic.rightKeys,
                  ic.leftStart, ic.leftEnd, ic.rightStart, ic.rightEnd,
                  ic.residual, joinType, m,
                  // nearest semantics ride the superintervals structure
                  if (nearest) "superintervals" else algorithm) :: Nil
            }
          }
        case None => Nil
      }
    case _ => Nil
  }
}
