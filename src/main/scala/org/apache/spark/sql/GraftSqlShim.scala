package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Minimal bridge into `private[sql]` Dataset construction and Column ↔
  * Expression conversion — the standard mechanism for Spark extensions
  * that add their own logical operators. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A new session sharing `spark`'s SparkContext and cached data, with
    * a COPY of its confs, temp views, functions and planner rules
    * (`cloneSession` is `private[sql]`), then `pins` set on the copy: a
    * private conf scope, so conf pins on the clone never reach `spark`
    * or a concurrent query. */
  def cloneSession(spark: SparkSession,
      pins: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[CSparkSession].cloneSession()
    pins.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
    clone
  }

  /** Eagerly convert a Column to a Catalyst Expression via the session's
    * converter (ExpressionUtils.expression returns a lazy placeholder that
    * only resolves during analysis). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[CSparkSession].expression(c)

  /** Lazy Column → Expression (resolves during analysis) — for embedding
    * user columns inside custom expressions. */
  def lazyExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Wrap a Catalyst Expression back into a Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The first local dir Spark writes shuffle and spill files to —
    * `Utils.getConfiguredLocalDirs` (`private[spark]`), which reads
    * `SPARK_EXECUTOR_DIRS` / `SPARK_LOCAL_DIRS` before `spark.local.dir`
    * and `java.io.tmpdir`. */
  def firstLocalDir(spark: SparkSession): java.io.File =
    new java.io.File(org.apache.spark.util.Utils
      .getConfiguredLocalDirs(spark.sparkContext.conf).head)

  /** Eagerly materialize `df` as a local checkpoint and return it with
    * the shuffle ids OWNED by this execution — collected by walking the
    * executed RDD's lineage for `ShuffleDependency` ids before the
    * checkpoint truncates it. Unlike a before/after registry diff on
    * the (SparkContext-global) MapOutputTracker, a concurrent query's
    * shuffles can never be swept into the result, so the returned set
    * is safe to hand to [[cleanupShuffles]] even on a shared session.
    * Under AQE the stages have already executed when `toRdd` returns
    * (AdaptiveSparkPlanExec materializes them inside execute()), so the
    * final RDD's lineage reaches every stage's dependency. */
  def eagerCheckpointWithShuffleIds(df: Dataset[_])
      : (DataFrame, Set[Int]) = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val qe = df.queryExecution
    val raw = qe.toRdd
    val ids = {
      val seen = scala.collection.mutable.Set.empty[Int]
      val visited = scala.collection.mutable.Set.empty[Int]
      def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
        if (visited.add(r.id)) r.dependencies.foreach { d =>
          d match {
            case s: org.apache.spark.ShuffleDependency[_, _, _] =>
              seen += s.shuffleId
            case _ => ()
          }
          walk(d.rdd)
        }
      walk(raw)
      seen.toSet
    }
    // same shape as Dataset.localCheckpoint: copy reused UnsafeRows,
    // checkpoint, materialize eagerly (batches must run sequentially)
    val rdd = raw.map(_.copy()).localCheckpoint()
    rdd.count()
    (ofRows(spark, execution.LogicalRDD(qe.analyzed.output, rdd)(spark)),
      ids)
  }

  /** Synchronously drop the given shuffles' map outputs and files —
    * the deterministic form of "these shuffle files are no longer
    * reachable". The async ContextCleaner only deletes on a GC notice,
    * and nudging it with System.gc() on a large heap is a
    * stop-the-world pause long enough to trip the executor heartbeat
    * timeout (measured: 137 s on a 48 GiB heap — the heartbeat
    * receiver killed the executor). Callers OWN the proof that no
    * live plan still reads these shuffles (e.g. every consumer was
    * eagerly checkpointed). */
  def cleanupShuffles(spark: SparkSession, ids: Iterable[Int]): Unit =
    spark.sparkContext.cleaner.foreach { c =>
      ids.foreach(id => c.doCleanupShuffle(id, blocking = true))
    }

  /** Eager `repartition(key).localCheckpoint()` whose result plan
    * CARRIES `hashpartitioning(key, n)` — even under AQE, where
    * `Dataset.localCheckpoint` records UnknownPartitioning (the adaptive
    * root hides the exchange's layout) and downstream joins would
    * re-shuffle the checkpoint on every use.
    *
    * Mechanism: repartition with an EXPLICIT partition count (AQE never
    * coalesces user-specified-N exchanges, so the physical layout is
    * exactly `hashpartitioning(key, n)`), checkpoint the materialized
    * rows, and wrap them in a [[execution.LogicalRDD]] stamped with that
    * partitioning. No conf is touched — the upstream plan keeps AQE's
    * skew mitigation and partition coalescing. */
  def checkpointHashPartitioned(df: Dataset[_], key: String): DataFrame =
    checkpointHashPartitionedCounted(df, key)._1

  /** [[checkpointHashPartitioned]] plus the materialized row count — the
    * count is computed anyway to force the checkpoint, so callers that
    * need it (e.g. a micro-graph fast-path gate) get it for free instead
    * of paying a second job. */
  def checkpointHashPartitionedCounted(df: Dataset[_],
      key: String): (DataFrame, Long) = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val n = spark.sessionState.conf.numShufflePartitions
    val qe = df.repartition(n, df(key)).queryExecution
    val output = qe.analyzed.output
    // resolve with the session's resolver (case-insensitive by default),
    // matching how df(key) resolved the repartition expression above
    val resolver = spark.sessionState.conf.resolver
    val attr = output.find(a => resolver(a.name, key)).getOrElse(throw
      new IllegalArgumentException(s"no column named $key in ${output.mkString(",")}"))
    // same shape as Dataset.localCheckpoint: copy the reused UnsafeRows,
    // mark for local checkpoint, materialize eagerly
    val rdd = qe.toRdd.map(_.copy()).localCheckpoint()
    val count = rdd.count()
    (ofRows(spark, execution.LogicalRDD(output, rdd,
      catalyst.plans.physical.HashPartitioning(Seq(attr), n))(spark)), count)
  }

  /** Lazy checkpoint that RECORDS `hashpartitioning(key, n)` without
    * adding a repartition of its own. CALLER CONTRACT: the plan's
    * physical output layout must already be exactly that — an explicit
    * `repartition(n, key)` (AQE never coalesces user-specified-N
    * exchanges) optionally followed by partition-preserving operators
    * (filter/project/aggregate), with `n` = that repartition's count.
    * Recording a layout the rows don't have silently
    * mis-joins downstream, which is why this stays an internal bridge
    * for loops that already pay a keyed exchange and must not pay a
    * second one just to capture it.
    *
    * Debug guard: with `graft.debug.assertLayout=true` (session conf),
    * the first rows of every partition are checked against the recorded
    * layout at materialization time — a row whose
    * `pmod(murmur3(key), n)` is not its partition id fails the job with
    * the contract text instead of silently mis-joining. Off by default:
    * the sampled check is one expression eval per checked row, but the
    * point of this bridge is adding ZERO work to hot loops. */
  def lazyCheckpointAssumeHashPartitioned(df: Dataset[_],
      key: String, n: Int): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val resolver = spark.sessionState.conf.resolver
    val attr = output.find(a => resolver(a.name, key)).getOrElse(throw
      new IllegalArgumentException(s"no column named $key in ${output.mkString(",")}"))
    val assertLayout = spark.sessionState.conf
      .getConfString("graft.debug.assertLayout", "false").toBoolean
    val base = qe.toRdd
    val rdd = (if (!assertLayout) base.map(_.copy())
      else {
        // the EXACT expression HashPartitioning routes rows with —
        // asserting anything else would itself be a silent contract
        val pidExpr = catalyst.plans.physical.HashPartitioning(
          Seq(catalyst.expressions.BoundReference(output.indexOf(attr),
            attr.dataType, attr.nullable)), n).partitionIdExpression
        base.mapPartitionsWithIndex({ (pid, it) =>
          var checked = 0
          it.map { row =>
            if (checked < 16) { // sample: first rows of each partition
              checked += 1
              val got = pidExpr.eval(row).asInstanceOf[Int]
              require(got == pid,
                s"lazyCheckpointAssumeHashPartitioned contract violated: " +
                  s"a row in partition $pid hashes to $got under " +
                  s"hashpartitioning($key, $n) — the input is NOT laid " +
                  "out as the caller asserted")
            }
            row.copy()
          }
        }, preservesPartitioning = true)
      }).localCheckpoint()
    ofRows(spark, execution.LogicalRDD(output, rdd,
      catalyst.plans.physical.HashPartitioning(Seq(attr), n))(spark))
  }

  /** Lazy `localCheckpoint` that TRUNCATES plan statistics: the result
    * is a bare [[execution.LogicalRDD]] with no `originStats`, unlike
    * `Dataset.localCheckpoint(eager = false)` which eagerly captures the
    * origin plan's `Statistics` into the checkpoint node
    * (`LogicalRDD.fromDataset`). Catalyst's size-only estimator takes
    * the PRODUCT of child sizes at every join, so an iterative algorithm
    * that checkpoints a join-bearing plan each round compounds those
    * BigInt estimates round over round — the digit count grows
    * geometrically and from ~10 rounds planning time disappears into
    * BigInteger multiplication (hours-long "hangs" in
    * `SizeInBytesOnlyStatsPlanVisitor`). A bare LogicalRDD reports the
    * session default size instead, which is also the honest answer for
    * a not-yet-materialized checkpoint. Blocks still materialize at the
    * caller's first job over the result, exactly like the lazy Dataset
    * variant; free them with [[unpersistCheckpoint]]. */
  def lazyCheckpointNoStats(df: Dataset[_]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val qe = df.queryExecution
    // same shape as Dataset.localCheckpoint: copy the reused UnsafeRows
    val rdd = qe.toRdd.map(_.copy()).localCheckpoint()
    ofRows(spark, execution.LogicalRDD(qe.analyzed.output, rdd)(spark))
  }

  /** Wrap an `InternalRow` RDD with a known schema into a DataFrame (a
    * bare [[execution.LogicalRDD]] scan). */
  def ofInternalRows(spark: SparkSession, schema: types.StructType,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow]): DataFrame = {
    val cs = spark.asInstanceOf[CSparkSession]
    ofRows(cs, execution.LogicalRDD(
      catalyst.types.DataTypeUtils.toAttributes(schema), rdd)(cs))
  }

  /** `Dataset.showString` (private[sql]) — the REPL's table renderer:
    * same formatting as `df.show(n)`, returned as a String. */
  def showString(df: Dataset[_], numRows: Int, truncate: Int): String =
    df.asInstanceOf[CDataset[_]].showString(numRows, truncate)

  /** Spark's interpreted ordering over INTERNAL values of `dt` (e.g.
    * `UTF8String` for strings) — matches SQL `min`/`ORDER BY` semantics
    * exactly, unlike java natural ordering on external values. */
  def interpretedOrdering(dt: types.DataType): Ordering[Any] =
    catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Explicitly free the block-manager storage behind a
    * `localCheckpoint()`ed Dataset (iterative algorithms otherwise
    * accumulate one checkpoint's blocks per round until GC-driven cleanup
    * catches up). No-op unless `df` IS the checkpoint (a bare RDD scan) —
    * never unpersists a checkpoint referenced through other operators. */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
