package graft.plans

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerUnpersistRDD}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan

/** A broadcast interval build and the build metrics it recorded, which a
  * query that reuses it reports again (`buildTime` excepted). */
private[graft] final class KeptBuild(val bc: Broadcast[_],
    val stats: Map[String, Long]) {
  def memUsed: Long = stats("buildMemUsed")
}

/** What makes two broadcast builds the same: the node kind, its build
  * parameters, the canonical build subtree, the build expressions
  * normalized against that subtree's output, and the ids of the cached
  * RDDs under it. The ids tell a re-cache of the same plan (a new RDD,
  * possibly over changed files) from the cache the build read. */
private[graft] final case class BuildKey(kind: String, params: Seq[Any],
    plan: SparkPlan, exprs: Seq[Expression], rddIds: Seq[Int])

/**
 * The broadcast builds kept across queries, one registry per
 * SparkContext. A build over cached tables is kept under its [[BuildKey]]
 * once the key repeats, and handed to every later query with that key.
 * The first build of a key only records the key (among the last
 * [[BroadcastBuilds.SeenKeys]] such keys); the next build with it, or a
 * query that waits for the first, keeps it. So traffic that never
 * repeats a build keeps no broadcast. The kept builds' accounted memory
 * stays within a budget of twice the caller's
 * `spark.sql.autoBroadcastJoinThreshold` — room for a join build and a
 * count build over one cached table, each at the threshold: keeping a
 * build drops the oldest kept builds beyond it. A build is also dropped
 * when any RDD of its key is unpersisted, and all are dropped at
 * application end. Dropping only forgets the reference: a query that
 * holds the broadcast finishes with it, and the ContextCleaner frees it
 * once no plan refers to it.
 */
private[graft] final class BroadcastBuilds private (val sc: SparkContext)
    extends SparkListener {

  // completes with the kept build, or null when the build failed or was
  // not kept; `wanted` marks a query waiting for it
  private final class Slot extends CompletableFuture[KeptBuild] {
    @volatile var wanted = false
  }

  private val slots = new ConcurrentHashMap[BuildKey, Slot]
  // guarded by `this`, as are the removals from `slots` that go with
  // them: the kept builds, oldest first, and the keys built once and not
  // kept, newest last
  private val kept = new java.util.LinkedHashMap[BuildKey, KeptBuild]
  private val seen = new java.util.LinkedHashSet[BuildKey]
  private val reused = new AtomicLong

  /** Builds handed out again so far. */
  def reuseCount: Long = reused.get

  /** Keys currently kept (in flight builds included). */
  def keys: Seq[BuildKey] = {
    import scala.jdk.CollectionConverters._
    slots.keySet.asScala.toSeq
  }

  /** The kept build for `key` (true: reused), else `build`'s, kept when
    * its accounted memory is at most `limit` and the key repeats. Each
    * key builds once at a time: a concurrent query with the same key
    * waits for the first build rather than run its own. The build runs
    * outside the map's locks, since it may plan and run a nested interval
    * build. */
  def getOrBuild(key: BuildKey, build: () => KeptBuild,
      limit: Long): (KeptBuild, Boolean) = {
    val mine = new Slot
    slots.putIfAbsent(key, mine) match {
      case null =>
        val built = try build() catch {
          case t: Throwable =>
            slots.remove(key, mine); mine.complete(null); throw t
        }
        val keeps = built.memUsed <= limit && (mine.wanted || repeats(key))
        if (keeps) keep(key, built, limit) else slots.remove(key, mine)
        mine.complete(if (keeps) built else null)
        (built, false)
      case first =>
        first.wanted = true
        first.join() match {
          case null => getOrBuild(key, build, limit)
          case kept => reused.incrementAndGet(); (kept, true)
        }
    }
  }

  /** Whether `key` was built once before and not kept; else records it. */
  private def repeats(key: BuildKey): Boolean = synchronized {
    seen.remove(key) || {
      seen.add(key)
      if (seen.size > BroadcastBuilds.SeenKeys) {
        val oldest = seen.iterator
        oldest.next(); oldest.remove()
      }
      false
    }
  }

  /** Keep `built` under `key`, dropping the oldest kept builds while the
    * total is over the budget, twice `limit`. A query may get here after
    * the registry handled the unpersist event of an RDD of its key: an RDD
    * that is no longer persisted drops the build at once. */
  private def keep(key: BuildKey, built: KeptBuild,
      limit: Long): Unit = synchronized {
    kept.put(key, built)
    val budget = if (limit > Long.MaxValue / 2) Long.MaxValue else 2 * limit
    var total = 0L
    kept.values.forEach(b => total += b.memUsed)
    val oldest = kept.entrySet.iterator
    while (total > budget) {
      val e = oldest.next()
      oldest.remove(); slots.remove(e.getKey); total -= e.getValue.memUsed
    }
    if (!key.rddIds.forall(sc.getPersistentRDDs.contains))
      drop(_ == key)
  }

  private def drop(p: BuildKey => Boolean): Unit = synchronized {
    seen.removeIf(p(_))
    kept.keySet.removeIf(p(_))
    slots.keySet.removeIf(p(_))
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    drop(_.rddIds.contains(e.rddId))

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    drop(_ => true)
}

private[graft] object BroadcastBuilds {
  /** Keys built once and not kept that the registry remembers, so that a
    * repeat among a session's recent distinct builds is recognised. */
  final val SeenKeys = 64

  @volatile private var current: BroadcastBuilds = _

  /** `sc`'s registry, made and subscribed to `sc`'s listener bus on first
    * use, before it keeps anything. */
  def of(sc: SparkContext): BroadcastBuilds = {
    val r = current
    if (r != null && (r.sc eq sc)) r
    else synchronized {
      if (current == null || (current.sc ne sc)) {
        val fresh = new BroadcastBuilds(sc)
        sc.addSparkListener(fresh)
        current = fresh
      }
      current
    }
  }
}
