package graft.plans

import graft.rangejoin.{LongIntervalIndex, LongSuperIntervalsIndex}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import scala.collection.mutable

/** Join semantics. The reference implements Inner only
  * (interval_join.rs plumbs other types but never emits them); the
  * probe-side variants below are Spark-first extensions — all emission
  * decisions are per-probe-row, so they work in both distribution modes
  * with no build-side match tracking. */
sealed trait IntervalJoinType extends Serializable
/** Emit every overlapping (build, probe) pair — inner join. */
case object OverlapJoin extends IntervalJoinType
/** Inner pairs + NULL-padded build side for probe rows with no match —
  * the probe-side outer join (logical RightOuter when build = left). */
case object RightOuterJoin extends IntervalJoinType
/** Emit each probe row once iff it has ≥1 match (logical LeftSemi with
  * sides swapped: build = the filtering side). */
case object SemiJoin extends IntervalJoinType
/** Emit each probe row once iff it has NO match (logical LeftAnti with
  * sides swapped). */
case object AntiJoin extends IntervalJoinType
/** Emit every probe row once, appending a boolean "had ≥1 match" column —
  * Spark's ExistenceJoin (the reference plumbs Mark the same way,
  * interval_join.rs:280-302): what EXISTS compiles to when it sits under
  * a disjunction and can't become a plain semi join. */
case object MarkJoin extends IntervalJoinType
/** Inner pairs + NULL-padded build side for unmatched probe rows + NULL-
  * padded probe side for unmatched build rows — FULL OUTER. Needs
  * build-side match tracking (a per-partition bitmap), so it runs in
  * PartitionedMode only, where each task owns its build partition
  * exclusively. The reference plumbs Full but never executes it
  * (reference: interval_join.rs:280-302). */
case object FullOuterJoin extends IntervalJoinType
/** Emit exactly one row per probe row: the best (deterministic) nearest
  * build interval, NULL-padded left side when the key has no build rows —
  * analogue of the reference's CoitreesNearest (interval_join.rs:909-990),
  * made deterministic: overlap with min (start, end), else min distance
  * with ties broken by (start, end). */
case object NearestJoin extends IntervalJoinType
/** AS-OF join (pandas merge_asof / DuckDB ASOF JOIN; beyond the
  * reference): one row per probe row, matched with the build row whose
  * time is the greatest <= the probe time (backward; `forward` mirrors,
  * `strict` excludes equality), NULL-padded when none qualifies. Times are
  * indexed as degenerate [t, t] intervals, so the whole build/probe
  * machinery (both distribution modes) is reused. */
case class AsofJoin(forward: Boolean, strict: Boolean)
  extends IntervalJoinType

/** Primitive growable long/int vectors for the build accumulators:
  * `ArrayBuffer[Long]` boxes every element (~64 B of transient
  * java.lang.Long + ref slot per appended bound), so a large build's
  * REAL footprint would be 2-3x what [[BuildMemoryAccountant]] reserves
  * and the task could OOM before the accountant's clean error fires.
  * These grow doubling primitive arrays — exactly the footprint the
  * per-interval estimate assumes. */
private[plans] final class LongVec(initial: Int = 16) {
  private var arr = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v; n += 1
  }
  def length: Int = n
  def apply(i: Int): Long = arr(i)
  def toArray: Array[Long] = java.util.Arrays.copyOf(arr, n)
}

private[plans] final class IntVec(initial: Int = 16) {
  private var arr = new Array[Int](initial)
  private var n = 0
  def +=(v: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v; n += 1
  }
  def length: Int = n
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
}

private[graft] class IntervalBuildSide(
    val keyed: java.util.HashMap[UnsafeRow, LongIntervalIndex],
    val rows: Array[InternalRow]) extends Serializable

/** The join's build/probe kernel, shared by both distribution modes. */
private[graft] class IntervalJoinRunner(
    left: IntervalSide,
    right: IntervalSide,
    residual: Option[Expression],
    joinType: IntervalJoinType,
    markAttr: Option[Attribute],
    // the operator's computed `output` — passed in, not re-derived, so
    // the joinType->schema mapping lives in exactly one place
    outputAttrs: Seq[Attribute],
    algorithm: String,
    maxBuildBytes: Long,
    metrics: Map[String, SQLMetric])
  extends BuildProbeRunner[IntervalBuildSide] {

  private val numOutputRows = metrics("numOutputRows")
  private val probeRows = metrics("probeRows")
  private val probeTime = metrics("probeTime")

  def buildSide(rows: Iterator[InternalRow]): IntervalBuildSide = {
    val t0 = System.nanoTime()
    val side = new SideEval(left)
    val rowProj = UnsafeProjection.create(left.output, left.output)

    final class Acc {
      val starts = new LongVec
      val ends = new LongVec
      val positions = new IntVec
    }
    val groups = new java.util.HashMap[UnsafeRow, Acc]
    val stored = new mutable.ArrayBuffer[InternalRow]
    // FULL OUTER must emit every build row, even ones that can never match
    // (NULL bound / NULL equi-key): store them un-indexed so the unmatched
    // sweep NULL-pads them.
    val keepAll = joinType == FullOuterJoin
    val mem = new BuildMemoryAccountant(maxBuildBytes)
    rows.foreach { row =>
      // a row that can never match (SideEval.key is null) is not indexed
      val key = side.key(row)
      if (key != null || keepAll) {
        val pos = stored.length
        val copied = rowProj(row).copy()
        stored += copied
        mem.add(copied.getSizeInBytes + BuildMemoryAccountant.RowOverhead)
        if (key != null) {
          mem.add(BuildMemoryAccountant.LongIntervalOverhead)
          var acc = groups.get(key)
          if (acc == null) { acc = new Acc; groups.put(key.copy(), acc) }
          acc.starts += side.s
          acc.ends += side.e
          acc.positions += pos
        }
      }
    }
    val alg = joinType match {
      case NearestJoin | _: AsofJoin => "superintervals"
      case _ => algorithm
    }
    val keyed = new java.util.HashMap[UnsafeRow, LongIntervalIndex](
      math.max(16, groups.size() * 2))
    groups.forEach { (k, acc) =>
      keyed.put(k, LongIntervalIndex.build(alg, acc.starts.toArray,
        acc.ends.toArray, acc.positions.toArray))
    }
    metrics("buildMemUsed") += mem.used
    metrics("buildRows") += stored.length
    metrics("buildKeys") += keyed.size()
    metrics("buildTime") += (System.nanoTime() - t0) / 1000000
    new IntervalBuildSide(keyed, stored.toArray)
  }

  def probe(build: IntervalBuildSide, iter: Iterator[InternalRow],
            partitionIndex: Int): Iterator[InternalRow] = {
    val out = probe0(build, iter, partitionIndex)
    // reference's join_time analogue (joins/utils.rs BuildProbeJoinMetrics):
    // wall time from first pull to exhaustion — includes downstream pull
    // latency, which is what you want when diagnosing a slow stage
    new Iterator[InternalRow] {
      private var t0 = 0L
      private var done = false
      def hasNext: Boolean = {
        if (t0 == 0L) t0 = System.nanoTime()
        val h = out.hasNext
        if (!h && !done) {
          done = true
          probeTime += (System.nanoTime() - t0) / 1000000
        }
        h
      }
      def next(): InternalRow = {
        if (t0 == 0L) t0 = System.nanoTime()
        out.next()
      }
    }
  }

  private def probe0(build: IntervalBuildSide, iter: Iterator[InternalRow],
            partitionIndex: Int): Iterator[InternalRow] = {
    val side = new SideEval(right)
    val leftOutput = left.output
    val rightOutput = right.output
    val joined = new JoinedRow
    // FULL OUTER also NULL-pads the probe side (unmatched-build sweep), so
    // its projection input schema must be nullable on both sides. MarkJoin
    // output (probe + exists bool) binds to a different schema — it builds
    // its own projection in its branch below.
    val resultProj =
      if (joinType == MarkJoin) null
      else UnsafeProjection.create(
        outputAttrs,
        leftOutput.map(_.withNullability(true)) ++
          (if (joinType == FullOuterJoin) rightOutput.map(_.withNullability(true))
           else rightOutput))
    if (resultProj != null) resultProj.initialize(partitionIndex)
    val residualPred = residual.map { r =>
      val p = Predicate.create(r, leftOutput ++ rightOutput)
      p.initialize(partitionIndex)
      p
    }
    val nullLeft = new GenericInternalRow(leftOutput.size)
    val rows = numOutputRows

    // shared probe: fill matchBuf with positions whose pair passes the
    // residual; returns match count (0 for NULL bounds/keys)
    var sharedBuf = new Array[Int](64)
    def collectMatches(rrow: InternalRow): Int = {
      val idx = side.lookup(build.keyed, rrow)
      if (idx == null) return 0
      var n = 0
      idx.query(side.s, side.e) { pos =>
        if (n == sharedBuf.length)
          sharedBuf = java.util.Arrays.copyOf(sharedBuf, n * 2)
        sharedBuf(n) = pos
        n += 1
      }
      residualPred match {
        case None => n
        case Some(p) =>
          var kept = 0
          var i = 0
          while (i < n) {
            if (p.eval(joined(build.rows(sharedBuf(i)), rrow))) {
              sharedBuf(kept) = sharedBuf(i); kept += 1
            }
            i += 1
          }
          kept
      }
    }

    // the n matches collectMatches left in sharedBuf, joined and
    // projected. The buffer is reused across probe rows — safe because
    // flatMap drains each returned iterator before pulling the next row
    def matchedRows(rrow: InternalRow, n: Int): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < n
        def next(): InternalRow = {
          rows += 1
          val j = joined(build.rows(sharedBuf(i)), rrow)
          i += 1
          resultProj(j)
        }
      }

    joinType match {
      case OverlapJoin =>
        iter.flatMap { rrow =>
          probeRows += 1
          matchedRows(rrow, collectMatches(rrow))
        }
      case RightOuterJoin =>
        iter.flatMap { rrow =>
          probeRows += 1
          val n = collectMatches(rrow)
          if (n == 0) {
            rows += 1
            Iterator.single(resultProj(joined(nullLeft, rrow)))
          } else matchedRows(rrow, n)
        }

      case FullOuterJoin =>
        // Per-partition bitmap over build positions: PartitionedMode
        // guarantees this task is the only one probing this build
        // partition, so the post-drain sweep emits each unmatched build
        // row exactly once.
        val matched = new java.util.BitSet(build.rows.length)
        val nullRight = new GenericInternalRow(rightOutput.size)
        val pairs = iter.flatMap { rrow =>
          probeRows += 1
          val n = collectMatches(rrow)
          if (n == 0) {
            rows += 1
            Iterator.single(resultProj(joined(nullLeft, rrow)))
          } else {
            var i = 0
            while (i < n) { matched.set(sharedBuf(i)); i += 1 }
            matchedRows(rrow, n)
          }
        }
        // lazy concat: the sweep reads the bitmap only after `pairs` drains
        val unmatchedSweep = new Iterator[InternalRow] {
          private var pos = 0
          private def advance(): Unit =
            while (pos < build.rows.length && matched.get(pos)) pos += 1
          def hasNext: Boolean = { advance(); pos < build.rows.length }
          def next(): InternalRow = {
            advance()
            val j = joined(build.rows(pos), nullRight)
            pos += 1
            rows += 1
            resultProj(j)
          }
        }
        pairs ++ unmatchedSweep

      case MarkJoin =>
        // probe row + boolean "had a match" column (Spark ExistenceJoin)
        val markProj = UnsafeProjection.create(
          rightOutput :+ markAttr.get, rightOutput :+ markAttr.get)
        markProj.initialize(partitionIndex)
        val markRow = new GenericInternalRow(1)
        val outJoined = new JoinedRow
        iter.map { rrow =>
          probeRows += 1
          markRow.setBoolean(0, collectMatches(rrow) > 0)
          rows += 1
          markProj(outJoined(rrow, markRow))
        }

      case SemiJoin =>
        iter.filter { rrow =>
          probeRows += 1
          collectMatches(rrow) > 0
        }.map { rrow => rows += 1; resultProj(joined(nullLeft, rrow)) }

      case AntiJoin =>
        iter.filter { rrow =>
          probeRows += 1
          collectMatches(rrow) == 0
        }.map { rrow => rows += 1; resultProj(joined(nullLeft, rrow)) }

      case NearestJoin =>
        iter.map { rrow =>
          probeRows += 1
          // A NULL probe key (or bound) matches no build rows → NULL-padded
          // output row, same as an unmatched key (reference pads NULL for
          // key misses, interval_join.rs:1453-1465).
          val pos = side.lookup(build.keyed, rrow) match {
            case si: LongSuperIntervalsIndex => si.nearest(side.s, side.e)
            case _ => -1
          }
          rows += 1
          if (pos < 0) resultProj(joined(nullLeft, rrow))
          else resultProj(joined(build.rows(pos), rrow))
        }

      case AsofJoin(forward, strict) =>
        iter.map { rrow =>
          probeRows += 1
          val pos = side.lookup(build.keyed, rrow) match {
            case null => -1
            case _ if strict && forward && side.s == Long.MaxValue => -1
            case _ if strict && !forward && side.s == Long.MinValue => -1
            case idx =>
              // strict shifts the cutoff one tick (times are integral);
              // a shift past the Long domain means "no candidate" on the
              // shrinking side (handled above, pre-wrap)
              val t = if (!strict) side.s
                      else if (forward) side.s + 1
                      else side.s - 1
              idx match {
                case si: LongSuperIntervalsIndex =>
                  if (forward) si.asofForward(t) else si.asofBackward(t)
                case _ => -1
              }
          }
          // filter-after-pick: a residual (merge_asof tolerance) failing
          // on the picked pair NULL-pads like a miss — for time-monotone
          // residuals this equals pick-within-bound (earlier candidates
          // are farther)
          val accepted = pos >= 0 && (residualPred match {
            case None => true
            case Some(p) => p.eval(joined(build.rows(pos), rrow))
          })
          rows += 1
          if (!accepted) resultProj(joined(nullLeft, rrow))
          else resultProj(joined(build.rows(pos), rrow))
        }
    }
  }
}

/**
 * Interval (overlap / nearest) join operator.
 *
 * Build/probe scheme of the reference's `IntervalJoinExec`
 * (reference: sequila/sequila-core/src/physical_planner/joins/interval_join.rs:110-172):
 * hash build rows by equi-key into per-key interval indexes, stream probe
 * rows against the index of their key. Differences from the reference,
 * both deliberate:
 *  - keys are compared by value (UnsafeRow equality), not trusted 64-bit
 *    hashes (reference hashes only, interval_join.rs:1043-1047);
 *  - Spark's pull-based row iterators replace the hand-rolled async state
 *    machine (interval_join.rs:1053-1167) and make low-memory mode moot —
 *    join output is never materialized per-batch.
 */
case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    residual: Option[Expression],
    joinType: IntervalJoinType,
    mode: IntervalJoinMode,
    algorithm: String,
    markAttr: Option[Attribute] = None)
  extends IntervalBuildProbeExec[IntervalBuildSide] {

  // FULL OUTER needs exclusive per-task ownership of the build partition
  // for its match bitmap — broadcast would emit unmatched build rows once
  // per probe task
  require(joinType != FullOuterJoin || mode == PartitionedMode,
    "FullOuterJoin requires PartitionedMode")
  require(joinType != MarkJoin || markAttr.nonEmpty,
    "MarkJoin requires the exists attribute")

  override def output: Seq[Attribute] = joinType match {
    case OverlapJoin => left.output ++ right.output
    case RightOuterJoin | NearestJoin | _: AsofJoin =>
      left.output.map(_.withNullability(true)) ++ right.output
    case FullOuterJoin =>
      left.output.map(_.withNullability(true)) ++
        right.output.map(_.withNullability(true))
    case SemiJoin | AntiJoin => right.output
    case MarkJoin => right.output :+ markAttr.get
  }

  // mirrors the reference's BuildProbeJoinMetrics (joins/utils.rs:439-495):
  // build_time/build_input_rows/build_mem_used + input_rows/output_rows;
  // its input/output_batches are row-iterator-moot (documented in README)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build rows"),
    "buildKeys" -> SQLMetrics.createMetric(sparkContext, "build distinct keys"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "build time"),
    "buildMemUsed" -> SQLMetrics.createSizeMetric(sparkContext, "build memory used"),
    "buildReused" -> SQLMetrics.createMetric(sparkContext, "build reused"),
    "probeRows" -> SQLMetrics.createMetric(sparkContext, "probe rows"),
    // "(interpreted)": the codegen'd probe loops do not stamp this metric
    // (a per-row clock inside the generated loop would cost more than it
    // tells) — a 0 here on a WSCG plan means "look at the stage time"
    "probeTime" -> SQLMetrics.createTimingMetric(sparkContext,
      "probe time (interpreted path)"))

  override def outputPartitioning: Partitioning = (mode, joinType) match {
    case (BroadcastMode, _) => right.outputPartitioning
    case (PartitionedMode, OverlapJoin) =>
      PartitioningCollection(
        Seq(left.outputPartitioning, right.outputPartitioning))
    // NULL-padded sweep rows void the hash-partitioning guarantee (same as
    // Spark's ShuffledJoin for FullOuter)
    case (PartitionedMode, FullOuterJoin) =>
      UnknownPartitioning(right.outputPartitioning.numPartitions)
    case (PartitionedMode, _) => right.outputPartitioning
  }

  /** Every join type except FULL OUTER emits rows in probe (right) order
    * — per probe row, its matches are contiguous — so the probe side's
    * within-partition ordering survives and downstream sorts on it elide.
    * The FULL OUTER unmatched-build sweep appends out-of-order rows. */
  override def outputOrdering: Seq[SortOrder] = joinType match {
    case FullOuterJoin => Nil
    case _ => right.outputOrdering
  }

  /** Plan line in the reference's EXPLAIN format so its plan assertions
    * port directly (reference: tests/integration_test.rs:108-112 expects
    * "IntervalJoinExec: mode=CollectLeft, join_type=Inner, on=[(l, r)],
    * filter=..., alg=..."). */
  override def simpleString(maxFields: Int): String = {
    val jt = joinType match {
      case OverlapJoin => "Inner"
      case RightOuterJoin => "RightOuter"
      case SemiJoin => "LeftSemi"
      case AntiJoin => "LeftAnti"
      case FullOuterJoin => "Full"
      case MarkJoin => "Mark"
      case NearestJoin => "Nearest"
      case AsofJoin(fwd, strict) =>
        s"Asof${if (fwd) "Forward" else "Backward"}${if (strict) "Strict" else ""}"
    }
    val on = leftKeys.zip(rightKeys)
      .map { case (a, b) => s"($a, $b)" }.mkString(", ")
    val filter = s"$leftStart <= $rightEnd AND $leftEnd >= $rightStart" +
      residual.map(r => s" AND $r").getOrElse("")
    s"IntervalJoinExec: mode=$modeName, join_type=$jt, on=[$on], " +
      s"filter=$filter, alg=$algorithm"
  }

  protected def buildParams: Seq[Any] = Seq(joinType, algorithm)

  private[plans] def runner: IntervalJoinRunner = new IntervalJoinRunner(
    leftSide, rightSide, residual, joinType, markAttr, output, algorithm,
    maxBuildBytes, metrics)

  // ---- whole-stage codegen (overlap mode, both distributions) -----------
  //
  // Per probe row the generated Java looks up its key's interval index and
  // loops the matching build rows as local variables — no JoinedRow, no
  // per-pair UnsafeProjection, and the parent operator
  // (filter/agg/project) fuses into the same loop. In PartitionedMode the
  // probe-side child pipeline is not fused below us (it arrives as an
  // exchange anyway), but everything ABOVE the join — the hot per-pair
  // path — is.

  override def supportCodegen: Boolean = joinType == OverlapJoin

  override protected def doProduce(ctx: CodegenContext): String = mode match {
    case BroadcastMode => right.asInstanceOf[CodegenSupport].produce(ctx, this)
    case PartitionedMode =>
      val buildCls = classOf[IntervalBuildSide].getName
      val buildTerm = ctx.addMutableState(buildCls, "intervalBuild",
        forceInline = true)
      val rowsTerm = ctx.addMutableState("InternalRow[]", "intervalBuildRows",
        forceInline = true)
      val buildInit = genBuild(ctx, buildTerm)
      val loop = genProbeLoop(ctx) {
        // probe-side columns, read lazily at the consume point (inside the
        // match loop, where the probe row is still the current row)
        val rightVars = right.output.zipWithIndex.map { case (a, i) =>
          BoundReference(i, a.dataType, a.nullable).genCode(ctx)
        }
        s"""
           |${probeRowBody(ctx, buildTerm, rowsTerm, rightVars)}
           |if (shouldStop()) return;
         """.stripMargin
      }
      s"""
         |if ($buildTerm == null) {
         |  $buildInit
         |  $rowsTerm = $buildTerm.rows();
         |}
         |$loop
       """.stripMargin
  }

  /** Generate the per-match tail: evaluate the residual predicate (if any)
    * on the current (build, probe) pair — mirroring
    * BroadcastHashJoinExec's getJoinCondition pattern: force-evaluate only
    * the columns the residual reads (clearing their code so consume()
    * doesn't evaluate them twice), then gate the consume on it. */
  private def consumeMatch(ctx: CodegenContext, leftVars: Seq[ExprCode],
      rightVars: Seq[ExprCode], numOutput: String): String = residual match {
    case None =>
      val consumed = consume(ctx, leftVars ++ rightVars)
      s"""
         |$numOutput.add(1);
         |$consumed
       """.stripMargin
    case Some(r) =>
      val evalLeft =
        evaluateRequiredVariables(left.output, leftVars, r.references)
      val evalRight =
        evaluateRequiredVariables(right.output, rightVars, r.references)
      ctx.currentVars = leftVars ++ rightVars
      val ev = BindReferences.bindReference(r, left.output ++ right.output)
        .genCode(ctx)
      ctx.currentVars = null
      val consumed = consume(ctx, leftVars ++ rightVars)
      s"""
         |$evalLeft
         |$evalRight
         |${ev.code}
         |if (!${ev.isNull} && ${ev.value}) {
         |  $numOutput.add(1);
         |  $consumed
         |}
       """.stripMargin
  }

  /** Generate the per-probe match loop. For the default superintervals
    * algorithm the index walk is INLINED into the generated Java (binary
    * search + branch-skip scan over the four primitive arrays) — no
    * queryInto virtual call and no match-buffer write+read per pair, the
    * same loop fusion the reference gets from its monomorphized Rust probe
    * (interval_join.rs probe loop). Other algorithms keep the generic
    * buffer path. The cast is safe: the runner builds every per-key index
    * with this exec's `algorithm`. */
  private def genMatchLoop(ctx: CodegenContext, idxTerm: String,
      rowsTerm: String, sL: String, eL: String,
      leftRowTerm: String, matchTail: String): String = {
    if (LongIntervalIndex.canonical(algorithm) == "superintervals") {
      val siCls = classOf[LongSuperIntervalsIndex].getName
      val si = ctx.freshName("si")
      val sArr = ctx.freshName("siStarts")
      val eArr = ctx.freshName("siEnds")
      val pArr = ctx.freshName("siPos")
      val bArr = ctx.freshName("siBranch")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val ii = ctx.freshName("ii")
      s"""
         |$siCls $si = ($siCls) $idxTerm;
         |long[] $sArr = $si.starts();
         |long[] $eArr = $si.ends();
         |int[] $pArr = $si.positions();
         |int[] $bArr = $si.branch();
         |int $lo = 0;
         |int $hi = $sArr.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($sArr[$mid] <= $eL) $lo = $mid + 1; else $hi = $mid;
         |}
         |int $ii = $lo - 1;
         |while ($ii >= 0) {
         |  if ($eArr[$ii] >= $sL) {
         |    InternalRow $leftRowTerm = $rowsTerm[$pArr[$ii]];
         |    $ii--; // decrement BEFORE the fused tail: a parent-emitted
         |           // continue must not be able to skip the loop update
         |    $matchTail
         |  } else {
         |    $ii = $bArr[$ii];
         |  }
         |}
       """.stripMargin
    } else {
      val bufCls = classOf[graft.rangejoin.IntMatchBuffer].getName
      val bufTerm = ctx.addMutableState(bufCls, "intervalMatchBuf",
        v => s"$v = new $bufCls();", forceInline = true)
      val nTerm = ctx.freshName("nMatches")
      val iTerm = ctx.freshName("im")
      s"""
         |int $nTerm = $idxTerm.queryInto($sL, $eL, $bufTerm);
         |for (int $iTerm = 0; $iTerm < $nTerm; $iTerm++) {
         |  InternalRow $leftRowTerm = $rowsTerm[$bufTerm.get($iTerm)];
         |  $matchTail
         |}
       """.stripMargin
    }
  }

  /** One probe row: key/bounds lookup, match walk and fused tail — the
    * per-probe-row body of both distribution modes. `ctx` points at the
    * probe row (fused input variables or a row term); `rightVars` are
    * its columns as read there. */
  private def probeRowBody(ctx: CodegenContext, buildTerm: String,
      rowsTerm: String, rightVars: Seq[ExprCode]): String = {
    val numOutput = metricTerm(ctx, "numOutputRows")
    val probeRows = metricTerm(ctx, "probeRows")
    val lookup = rightSide.genLookup(ctx, s"$buildTerm.keyed()",
        classOf[LongIntervalIndex].getName) { (idxTerm, s, e) =>
      // build-row column variables, read lazily inside the match loop
      val leftRowTerm = ctx.freshName("intervalLeftRow")
      ctx.currentVars = null
      ctx.INPUT_ROW = leftRowTerm
      val leftVars = left.output.zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, a.nullable).genCode(ctx)
      }
      ctx.INPUT_ROW = null
      val sL = ctx.freshName("sLong")
      val eL = ctx.freshName("eLong")
      val matchTail = consumeMatch(ctx, leftVars, rightVars, numOutput)
      s"""
         |long $sL = $s;
         |long $eL = $e;
         |${genMatchLoop(ctx, idxTerm, rowsTerm, sL, eL, leftRowTerm, matchTail)}
       """.stripMargin
    }
    s"""
       |$probeRows.add(1);
       |$lookup
     """.stripMargin
  }

  // one probe row fans out to many output rows — downstream buffering
  // operators must copy
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val buildTerm = ctx.addMutableState(classOf[IntervalBuildSide].getName,
      "intervalBuild", v => genBuild(ctx, v), forceInline = true)
    val rowsTerm = ctx.addMutableState("InternalRow[]", "intervalBuildRows",
      v => s"$v = $buildTerm.rows();", forceInline = true)
    // probe-side expressions evaluated from the streamed input variables
    ctx.currentVars = input
    probeRowBody(ctx, buildTerm, rowsTerm, input)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}
