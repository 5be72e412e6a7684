package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/**
 * Optimizer rule: rewrite a skew-prone interval-overlap Inner join into its
 * BINNED form — both sides explode each interval to every `binSize`-wide
 * bin it spans, the bin becomes an extra equi-key, and an owner-bin
 * predicate (count the pair only in the bin of `max(leftStart,
 * rightStart)`) keeps results exact. One hot key (a genome's chr1, a
 * dominant contig) then spreads over `span / binSize` independent
 * partitions instead of capping parallelism at the key count. This is the
 * planner-automatic form of [[graft.operators.BinnedIntervalJoin]]
 * (round-2 verdict: the API existed but the planner never applied it).
 *
 * Fires (conf `spark.graft.intervalJoin.autoBin` = auto|force|off):
 *  - auto + KEYLESS join too big to broadcast: previously declined
 *    entirely (stock Spark plans a BNL join — the real 100-TB killer);
 *    binning manufactures the partitioning key a pure range join lacks.
 *  - auto + keyed join too big to broadcast whose key NDV (from column
 *    stats, when available) is below the shuffle parallelism — the
 *    hash-clustered join would cap out at NDV tasks.
 *  - force: whenever the condition is extractable (tests, explicit opt-in).
 *
 * The rewritten Join is an ordinary Inner join with `(keys..., bin)`
 * equi-keys + the original overlap + the owner-bin residual — exactly the
 * shape [[IntervalJoinStrategy]] claims, so it runs as a partitioned
 * `IntervalJoinExec` (whole-stage-codegen'd; the residual is compiled into
 * the match loop).
 *
 * Stateless: conf reads go to `conf` (`SQLConf.get`, the planning
 * session's conf), so one instance serves every session.
 */
object AutoBinIntervalJoin extends Rule[LogicalPlan] {

  private def confStr(key: String, default: String): String =
    conf.getConfString(key, default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = confStr(graft.GraftSession.AutoBin, "auto").toLowerCase
    val enabled = confStr(graft.GraftSession.PreferIntervalJoin,
      "true").toBoolean
    val alg = confStr(graft.GraftSession.IntervalJoinAlgorithm,
      "superintervals").toLowerCase
    // nearest-join semantics are driven off the same Inner-join shape via
    // the algorithm conf — binning would silently change them to overlap
    if (mode == "off" || !enabled || alg == "nearest" ||
      alg == "coitreesnearest") return plan
    val binSize = confStr(graft.GraftSession.BinSize, "1000000").toLong
    if (binSize <= 0) return plan

    // The default binSize (1e6) is calibrated to genome-scale Int
    // coordinates. A Long-bound interval (epoch micros/nanos) can span
    // thousands of such bins, and the rewrite explodes each interval to
    // every bin it spans — so in auto mode, Long-bound joins are only
    // rebinned when the user set a coordinate-scale binSize explicitly.
    val binSizeExplicit = conf.contains(graft.GraftSession.BinSize)

    plan.transform {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        IntervalCondition.extract(cond, l, r) match {
          case Some(ic) if !alreadyBinned(ic) && shouldBin(mode, l, ic) &&
              (mode == "force" || !ic.hasLongBounds || binSizeExplicit) =>
            rewrite(j, l, r, cond, ic, binSize)
          case _ => j
        }
    }
  }

  /** The rule runs inside a fixed-point batch — never re-bin a join whose
    * equi-keys already include a generated bin column. */
  private def alreadyBinned(ic: IntervalCondition): Boolean =
    (ic.leftKeys ++ ic.rightKeys).exists {
      case a: AttributeReference => a.name.startsWith("__graft_bin")
      case _ => false
    }

  private def shouldBin(mode: String, build: LogicalPlan,
      ic: IntervalCondition): Boolean = {
    if (mode == "force") return true
    val threshold = conf.autoBroadcastJoinThreshold
    val fitsBroadcast = threshold > 0 && build.stats.sizeInBytes <= threshold
    if (fitsBroadcast) return false // broadcast mode is already skew-proof
    if (ic.leftKeys.isEmpty) return true // keyless: the only scalable plan
    // keyed: bin only when column stats say the key space is narrower than
    // the shuffle parallelism (a hot-key ceiling); no stats → stay unbinned
    val parallelism = conf.numShufflePartitions
    val stats = build.stats.attributeStats
    val ndvs = ic.leftKeys.map {
      case a: Attribute => stats.get(a).flatMap(_.distinctCount)
      case _ => None
    }
    // every key column needs stats, and the COMBINED key space is what
    // caps parallelism — it can be the product of per-column NDVs, so
    // max alone would explode a (contig, sample) join whose 2400
    // combined keys already hash-spread fine (product capped to avoid
    // BigInt blowup; on correlated keys the product OVERestimates the
    // true combined NDV, which only errs toward not binning — the safe
    // direction, since binning costs a row explosion on both sides)
    ndvs.forall(_.isDefined) && {
      val cap = BigInt(parallelism) * 2
      ndvs.flatten.foldLeft(BigInt(1))((acc, n) => (acc * n).min(cap)) <
        BigInt(parallelism)
    }
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
      cond: Expression, ic: IntervalCondition, binSize: Long): LogicalPlan = {
    // Integer bin id — `div` truncation (not true floor) is fine: any
    // monotone bucketing partitions the line consistently on both sides
    // and in the owner predicate. Double-based floor would lose exactness
    // above 2^53 (epoch-nano coordinates).
    def floorBin(e: Expression): Expression =
      IntegralDivide(Cast(e, LongType), Literal(binSize))

    // explode both sides to their spanned bins (least/greatest keeps the
    // span set correct for inverted start>end intervals)
    def binned(child: LogicalPlan, start: Expression, end: Expression,
        name: String): (LogicalPlan, Attribute) = {
      val bs = floorBin(start)
      val be = floorBin(end)
      // Sequence is TimeZoneAwareExpression — resolved only with a zone set
      val seq = Sequence(Least(Seq(bs, be)), Greatest(Seq(bs, be)), None,
        Some(conf.sessionLocalTimeZone))
      val attr = AttributeReference(name, LongType, nullable = false)()
      (Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Seq(attr), child = child), attr)
    }

    val (lb, binL) = binned(l, ic.leftStart, ic.leftEnd, "__graft_bin_l")
    val (rb, binR) = binned(r, ic.rightStart, ic.rightEnd, "__graft_bin_r")

    // count each overlapping pair only in the bin holding the larger start
    val owner = EqualTo(
      floorBin(Greatest(Seq(Cast(ic.leftStart, LongType),
        Cast(ic.rightStart, LongType)))), binL)
    val newCond = And(And(cond, EqualTo(binL, binR)), owner)
    Project(j.output, Join(lb, rb, Inner, Some(newCond), j.hint))
  }
}
