package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Minimal JSON writer: Map → object, Seq → array, numbers in full
  * precision. Non-finite doubles have no JSON form and are refused. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample with at least ten samples above it, with the
    * percentile it sits at and how many samples are beyond it. With
    * fewer than eleven samples no such sample exists and the maximum
    * stands in (percentile 100, nothing beyond) — the record says so. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, 10)
    else (s.last, 100.0, 0)
  }
}

/** Where the run happened: stamped into every result so two results
  * can be compared only like for like. */
object Machine {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def loadavg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: java.io.IOException => "" }

  /** Fixed work on `nproc` threads (one per core — oversubscribing the
    * cores would measure the scheduler, not the cores): wall seconds of
    * the second of two passes, so JIT compilation is not billed. */
  def cpuProbe(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until nproc).map { i =>
        val t = new Thread(() => {
          var x = i.toLong + 1
          var k = 0
          while (k < 40000000) {
            x += 0x9E3779B97F4A7C15L
            var z = x
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            x ^= z ^ (z >>> 31)
            k += 1
          }
          if (x == 42) print("")
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pass(); pass()
  }

  /** (steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    * the time the host gave this machine's CPUs to someone else. */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** Generated classes Spark compiled (whole-stage codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jdk: String = System.getProperty("java.runtime.version")
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}

/** The heap still in use after each garbage collection that starts
  * between construction and `stop`, read from the collectors'
  * notifications, so listening adds no collection of its own. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val fromMs = uptime.getUptime
  private val seen = new ConcurrentLinkedQueue[(Long, Long)] // (start ms, bytes)
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      seen.add(gc.getStartTime -> used)
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** (largest heap bytes after a collection, collections seen). The
    * notifications come on a thread of their own, so the last ones are
    * waited for. With no collection at all, the heap in use now stands
    * in (an upper bound of what is retained). */
  def stop(): (Long, Int) = {
    val toMs = uptime.getUptime
    Thread.sleep(200)
    emitters.foreach(_.removeNotificationListener(listener))
    val inWindow = seen.asScala.filter { case (at, _) => at >= fromMs && at <= toMs }.map(_._2)
    (if (inWindow.isEmpty) Machine.heapUsedBytes else inWindow.max, inWindow.size)
  }
}

/** Spans around the benchmark's calls into the program's modules: kept
  * in memory, written once at the end. A span's layer is its name up to
  * the first dot. Disabled, `span` only evaluates its body. */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }

  var enabled = false
  var op = -1
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Self seconds per layer: each span's duration minus the time its
    * children cover (children run on the same thread, so they do not
    * overlap one another). */
  def selfSecondsByLayer: Map[String, Double] = {
    val childSec = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSec.getOrElse(s.id, 0.0)).sum
    }
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
