package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.LongType

import scala.reflect.ClassTag

/** How the build (left) side reaches the probe tasks. */
sealed trait IntervalJoinMode extends Serializable
/** Build side collected once and broadcast — analogue of the reference's
  * CollectLeft (reference: interval_join.rs:472-487). */
case object BroadcastMode extends IntervalJoinMode
/** Both sides hash-partitioned on the equi-keys; per-partition index —
  * analogue of the reference's Partitioned mode (interval_join.rs:488-503).
  * This is the 100-TB path: no single node ever sees the whole build side. */
case object PartitionedMode extends IntervalJoinMode

/** One side of an interval operator: its equi-keys and (start, end) bounds
  * over its output. Expressions only, so runners carry it into task
  * closures; a [[SideEval]] is its compiled per-task evaluator. */
private[plans] case class IntervalSide(keys: Seq[Expression],
    start: Expression, end: Expression, output: Seq[Attribute]) {

  /** Generated twin of [[SideEval.lookup]], off the current input (row
    * or fused variables): key, start and end code, the NULL check, then
    * `body(entry, s, e)` on the key's non-null entry in `keyedTerm`. */
  def genLookup(ctx: CodegenContext, keyedTerm: String, entryCls: String)(
      body: (String, String, String) => String): String = {
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      keys.map(BindReferences.bindReference(_, output)))
    val sEv = BindReferences.bindReference(Cast(start, LongType), output)
      .genCode(ctx)
    val eEv = BindReferences.bindReference(Cast(end, LongType), output)
      .genCode(ctx)
    val keyNullCheck =
      if (keys.nonEmpty) s"&& !${keyEv.value}.anyNull()" else ""
    val entry = ctx.freshName("entry")
    s"""
       |${keyEv.code}
       |${sEv.code}
       |${eEv.code}
       |if (!${sEv.isNull} && !${eEv.isNull} $keyNullCheck) {
       |  $entryCls $entry = ($entryCls) $keyedTerm.get(${keyEv.value});
       |  if ($entry != null) {
       |    ${body(entry, sEv.value.toString, eEv.value.toString)}
       |  }
       |}
     """.stripMargin
  }
}

/** Per-task evaluator of an [[IntervalSide]]: one generated projection for
  * the key and one for the bounds, no interpreted Expression.eval and no
  * boxing in the per-row loops — the one place for the NULL contract of
  * both build and probe rows. */
private[plans] final class SideEval(side: IntervalSide) {
  private val keyProj = UnsafeProjection.create(side.keys, side.output)
  private val boundsProj = UnsafeProjection.create(
    Seq(Cast(side.start, LongType), Cast(side.end, LongType)), side.output)
  private val hasKeys = side.keys.nonEmpty
  var s: Long = _
  var e: Long = _

  /** The row's equi-key (a reused row: copy it to keep it), with s/e set
    * to its bounds; null when a bound or a key column is NULL. Such a row
    * matches nothing: a NULL bound never overlaps, and SQL `NULL = NULL`
    * is not true (the reference constructs the join with
    * null_equals_null=false, interval_join.rs ctor). */
  def key(row: InternalRow): UnsafeRow = {
    val b = boundsProj(row)
    if (b.isNullAt(0) || b.isNullAt(1)) return null
    s = b.getLong(0); e = b.getLong(1)
    val k = keyProj(row)
    if (hasKeys && k.anyNull) null else k
  }

  /** A probe row's build entry (s/e set), or null for a NULL bound, a
    * NULL key or a key with no build rows. */
  def lookup[E >: Null](keyed: java.util.HashMap[UnsafeRow, E],
      row: InternalRow): E = {
    val k = key(row)
    if (k == null) null else keyed.get(k)
  }
}

/** A node's serializable build/probe kernel: holds only expressions,
  * schemas and metrics — never the SparkPlan — so it is safe to capture
  * in RDD closures and to reference from generated code. `buildSide`
  * records the node's build metrics wherever it runs: on the driver
  * (broadcast) or in the task (partitioned). */
private[graft] trait BuildProbeRunner[B] extends Serializable {
  def buildSide(rows: Iterator[InternalRow]): B
  def probe(build: B, iter: Iterator[InternalRow],
      partitionIndex: Int): Iterator[InternalRow]
}

/**
 * The build/probe skeleton of the interval operators, after the
 * reference's one build/probe operator, whose count variant shares its
 * build and probe (interval_join.rs:769-793, :962-971): the distribution
 * mode plumbing, the broadcast build, the interpreted execution and the
 * generated build and probe-drain code. Build side = left child.
 */
abstract class IntervalBuildProbeExec[B: ClassTag]
    extends BinaryExecNode with CodegenSupport {

  def leftKeys: Seq[Expression]
  def rightKeys: Seq[Expression]
  def leftStart: Expression
  def leftEnd: Expression
  def rightStart: Expression
  def rightEnd: Expression
  def mode: IntervalJoinMode

  private[plans] def runner: BuildProbeRunner[B]

  private[plans] def leftSide =
    IntervalSide(leftKeys, leftStart, leftEnd, left.output)
  private[plans] def rightSide =
    IntervalSide(rightKeys, rightStart, rightEnd, right.output)
  protected def maxBuildBytes: Long =
    conf.getConfString(graft.GraftSession.MaxBuildBytes, "0").toLong

  override def requiredChildDistribution: Seq[Distribution] = mode match {
    case BroadcastMode => Seq(UnspecifiedDistribution, UnspecifiedDistribution)
    case PartitionedMode =>
      Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))
  }

  /** The mode as the reference's EXPLAIN names it. */
  protected def modeName: String = mode match {
    case BroadcastMode => "CollectLeft"
    case PartitionedMode => "Partitioned"
  }

  /** The build parameters in this node's [[BuildKey]]; its class names
    * the kind. */
  protected def buildParams: Seq[Any]

  /** Build metrics a reused build reports again. This node's broadcast
    * build is the only writer of its build metrics, so after the build
    * they hold exactly what it recorded. */
  private def storedMetrics =
    Seq("buildRows", "buildKeys", "buildMemUsed").filter(metrics.contains)

  /** The registry key of the broadcast build, when the build may be kept
    * across queries: every leaf of the build subtree is a scan of a table
    * still cached, and the subtree and the build expressions are
    * deterministic and hold no subquery. AQE query stages are leaves
    * holding their plan uncanonicalized, so the key reads the subtree with
    * each stage replaced by its plan. */
  private def reuseKey: Option[BuildKey] = {
    def unstaged(p: SparkPlan): SparkPlan =
      p.transformUp { case q: QueryStageExec => unstaged(q.plan) }
    val build = unstaged(left)
    val exprs = leftKeys ++ Seq(leftStart, leftEnd)
    def pure(e: Expression) = e.deterministic &&
      !e.exists(_.isInstanceOf[PlanExpression[_]])
    if (build.collectLeaves().forall(_.isInstanceOf[InMemoryTableScanExec]) &&
        exprs.forall(pure) && !build.exists(!_.expressions.forall(pure))) {
      val caches = build.collect { case s: InMemoryTableScanExec =>
        s.relation.cacheBuilder }
      val ids = caches.map(_.cachedColumnBuffers.id)
      // A plan made before its table was unpersisted still scans the
      // cleared cache, which makes its RDD afresh: no unpersist would drop
      // a build keyed on that RDD. Read the ids first, so an unpersist
      // after this check drops the build by its event.
      if (session != null && caches.forall(c =>
          session.sharedState.cacheManager.lookupCachedData(session,
            c.logicalPlan).exists(_.cachedRepresentation.cacheBuilder eq c)))
        Some(BuildKey(getClass.getSimpleName, buildParams, build.canonicalized,
          exprs.map(QueryPlan.normalizeExpressions(_, build.output)), ids))
      else None
    } else None
  }

  /** Collect the build side and broadcast its build. The collect is lazy,
    * so it runs inside the timed build, as a partitioned build's upstream
    * pull does. */
  private def buildBroadcast(): KeptBuild = {
    val build = runner.buildSide(Iterator.empty ++ left.executeCollect())
    new KeptBuild(sparkContext.broadcast(build),
      storedMetrics.map(m => m -> metrics(m).value).toMap)
  }

  /** Build once per query, shared by the interpreted and generated
    * broadcast paths. A build over cached tables is kept in the context's
    * [[BroadcastBuilds]] once a second query has the same build, when its
    * accounted memory is within `spark.sql.autoBroadcastJoinThreshold`
    * (and all kept builds' within twice that). Each later query with that
    * build reuses it: it reports the kept build's metrics (no build time)
    * and `buildReused`, and checks its size against
    * `spark.graft.intervalJoin.maxBuildBytes` again. */
  @transient private lazy val broadcastBuild: Broadcast[B] = {
    val (kept, reused) = reuseKey match {
      case None => (buildBroadcast(), false)
      case Some(key) =>
        BroadcastBuilds.of(sparkContext).getOrBuild(key, () => buildBroadcast(),
          conf.autoBroadcastJoinThreshold)
    }
    if (reused) {
      new BuildMemoryAccountant(maxBuildBytes).add(kept.memUsed)
      kept.stats.foreach { case (m, v) => metrics(m) += v }
      metrics("buildReused") += 1
    }
    kept.bc.asInstanceOf[Broadcast[B]]
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val run = runner
    mode match {
      case BroadcastMode =>
        val bc = broadcastBuild
        right.execute().mapPartitionsWithIndex({ (pi, iter) =>
          run.probe(bc.value, iter, pi)
        }, preservesPartitioning = true)
      case PartitionedMode =>
        left.execute().zipPartitions(right.execute()) { (liter, riter) =>
          run.probe(run.buildSide(liter), riter, TaskContext.getPartitionId())
        }
    }
  }

  // ---- whole-stage codegen --------------------------------------------
  //
  // BroadcastMode is modeled on BroadcastHashJoinExec: the probe (right)
  // child pipeline fuses into this stage and every probe row arrives via
  // doConsume. PartitionedMode is modeled on SortMergeJoinExec's
  // two-input-RDD shape: WholeStageCodegenExec zips the two shuffled
  // inputs; the generated code drains the build iterator into the
  // per-partition build once, then streams the probe rows.

  override def inputRDDs(): Seq[RDD[InternalRow]] = mode match {
    case BroadcastMode => right.asInstanceOf[CodegenSupport].inputRDDs()
    case PartitionedMode => left.execute() :: right.execute() :: Nil
  }

  /** Java assigning this task's build side to `buildTerm`: the broadcast
    * value, or the runner's build over the zipped build partition. */
  protected def genBuild(ctx: CodegenContext, buildTerm: String): String = {
    val cls = implicitly[ClassTag[B]].runtimeClass.getName
    mode match {
      case BroadcastMode =>
        val bc = ctx.addReferenceObj("intervalBuildBc", broadcastBuild,
          classOf[Broadcast[_]].getName)
        s"$buildTerm = ($cls) $bc.value();"
      case PartitionedMode =>
        val leftInput = ctx.addMutableState("scala.collection.Iterator",
          "intervalLeftInput", v => s"$v = inputs[0];", forceInline = true)
        val run = ctx.addReferenceObj("intervalRunner", runner,
          classOf[BuildProbeRunner[_]].getName)
        s"$buildTerm = ($cls) $run.buildSide($leftInput);"
    }
  }

  /** PartitionedMode's probe drain: a loop over the zipped probe
    * partition, with `ctx` pointed at each probe row while `body`
    * generates. */
  protected def genProbeLoop(ctx: CodegenContext)(body: => String): String = {
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "intervalRightInput", v => s"$v = inputs[1];", forceInline = true)
    val probeRow = ctx.freshName("probeRow")
    ctx.currentVars = null
    ctx.INPUT_ROW = probeRow
    val code = body
    ctx.INPUT_ROW = null
    s"""
       |while ($rightInput.hasNext()) {
       |  InternalRow $probeRow = (InternalRow) $rightInput.next();
       |  $code
       |}
     """.stripMargin
  }
}
