package graftbench

import org.apache.spark.sql.SparkSession

/** What a probe phase hands back: per-layer metrics, labels, and whether
  * every probe agreed with the workload's own answer. */
final case class ProbeResult(metrics: Map[String, Double],
    labels: Map[String, String], consistent: Boolean)

/** One seeded workload. The program sees only what `load` builds from
  * the generated inputs; `expected` computes the answer with code that
  * shares nothing with the program. */
abstract class Workload {
  type In
  type Data
  type Ans

  def name: String
  def generate(seed: Long): In
  /** Content hash of the generated inputs (same seed ⇒ same hash). */
  def fingerprint(in: In): Long
  def expected(in: In): Ans
  def load(spark: SparkSession, in: In): Data
  def unload(d: Data): Unit
  /** One operation. Spans go to `t` when it is enabled. */
  def op(spark: SparkSession, d: Data, t: Tracer): Ans
  /** `warm` is the warm-up operation's answer of the same run. */
  def check(exp: Ans, warm: Ans, got: Ans): Boolean
  /** Answers one step off `exp`: the check must reject each of them. */
  def offByOne(exp: Ans): Seq[Ans]
  /** Work units one operation completes (pairs or documents). */
  def workPerOp(in: In, exp: Ans): Long
  /** Per-layer metrics read from this run's `tracedOps` traced
    * operations and their spans. */
  def opLayers(tracedOps: Int, t: Tracer): ProbeResult =
    ProbeResult(Map.empty, Map.empty, consistent = true)
  /** Layer probes run once after the timed window of a traced run;
    * `warm` is the run's checked warm-up answer. */
  def probes(spark: SparkSession, in: In, d: Data, warm: Ans, t: Tracer,
      prof: StageProfile): ProbeResult = ProbeResult(Map.empty, Map.empty, consistent = true)
}

object Workload {
  val all: Seq[Workload] = Seq(new Overlap, new CurationCorpus)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name"))

  /** Runs `body` under a job group of its own; returns its result and
    * epoch-ms wall interval. */
  def grouped[T](spark: SparkSession, group: String)(body: => T): (T, (Long, Long)) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      (r, (t0, System.currentTimeMillis()))
    } finally sc.clearJobGroup()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 64-bit mix (splitmix64 finaliser): a bijection, so distinct inputs
    * never collide. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
