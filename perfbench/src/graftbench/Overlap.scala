package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.rangejoin.{IntervalIndex, LongIntervalIndex}

/** Genome-like interval tables of the reference flagship's shape
  * (chainRn4 × chainVicPac2 chr1: ~200 k × ~300 k intervals, ~154 M
  * overlapping pairs) at about a third of its rows and a seventh of its
  * pairs, so that a twelve-second run holds over ten operations on four
  * cores: 70 k × 105 k Int32 intervals over 24 contigs with a descending
  * size profile, log-uniform lengths (many short, a few half-megabase
  * chains), ~22 M overlapping pairs.
  *
  * One operation is the reference's flagship COUNT (answered by the
  * count pushdown, which binary-searches sorted bounds) followed by a
  * per-pair aggregate — total overlapping bases — which
  * drives the interval join's index build, probe and emit. */
final class Overlap extends Workload {
  final case class Side(contig: Array[Int], start: Array[Int], end: Array[Int]) {
    def size: Int = contig.length
  }
  final case class In(contigs: Array[String], a: Side, b: Side)
  final case class Data(a: DataFrame, b: DataFrame)
  final case class Ans(pairs: Long, bases: Long)

  val name = "overlap"

  private val Contigs = 24
  private val RowsA = 70000
  private val RowsB = 105000
  private val MinLen = 100.0
  private val MaxLen = 500000.0
  private val TotalLength = 40000000L

  private def contigLengths: Array[Long] = {
    val w = Array.tabulate(Contigs)(i => 1.0 - 0.6 * i / Contigs)
    w.map(x => (TotalLength * x / w.sum).toLong)
  }

  def generate(seed: Long): In = {
    val rnd = new SplittableRandom(Workload.mix(seed ^ 0x0E4C1A9L))
    val lens = contigLengths
    def side(rows: Int): Side = {
      val per = lens.map(l => math.round(rows.toDouble * l / lens.sum).toInt)
      val n = per.sum
      val c = new Array[Int](n); val s = new Array[Int](n); val e = new Array[Int](n)
      var k = 0
      for (ci <- 0 until Contigs; _ <- 0 until per(ci)) {
        val len = math.exp(math.log(MinLen) +
          rnd.nextDouble() * (math.log(MaxLen) - math.log(MinLen))).toInt
        val st = 1 + rnd.nextInt((lens(ci) - len).toInt)
        c(k) = ci; s(k) = st; e(k) = st + len - 1
        k += 1
      }
      Side(c, s, e)
    }
    In(Array.tabulate(Contigs)(i => s"chr${i + 1}"), side(RowsA), side(RowsB))
  }

  def fingerprint(in: In): Long =
    Seq(in.a, in.b).foldLeft(17L) { (h, sd) =>
      (0 until sd.size).foldLeft(h)((h2, i) =>
        Workload.mix(h2 ^ (sd.contig(i).toLong << 58) ^ (sd.start(i).toLong << 29) ^ sd.end(i)))
    }

  private def byContig(sd: Side, ci: Int): (Array[Int], Array[Int]) = {
    val idx = (0 until sd.size).filter(sd.contig(_) == ci)
    (idx.map(sd.start).toArray, idx.map(sd.end).toArray)
  }

  /** Sorted-array answer: per b, the a's with start ≤ b.end minus those
    * with end < b.start; overlapping bases = Σₓ coverA(x)·coverB(x),
    * swept over both sides' interval boundaries. */
  def expected(in: In): Ans = {
    var pairs = 0L
    var bases = 0L
    (0 until Contigs).foreach { ci =>
      val (as, ae) = byContig(in.a, ci)
      val (bs, be) = byContig(in.b, ci)
      val sortedStarts = as.sorted
      val sortedEnds = ae.sorted
      // number of elements of sorted `xs` that are ≤ v
      def atMost(xs: Array[Int], v: Int): Int = {
        var lo = 0; var hi = xs.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= v) lo = m + 1 else hi = m }
        lo
      }
      var i = 0
      while (i < bs.length) {
        pairs += atMost(sortedStarts, be(i)) - atMost(sortedEnds, bs(i) - 1)
        i += 1
      }
      // boundary events: (position, Δcover on a, Δcover on b)
      val ev = (as.map(p => (p.toLong, 1, 0)) ++ ae.map(p => (p.toLong + 1, -1, 0)) ++
        bs.map(p => (p.toLong, 0, 1)) ++ be.map(p => (p.toLong + 1, 0, -1))).sortBy(_._1)
      var covA = 0L; var covB = 0L; var prev = 0L
      ev.foreach { case (pos, da, db) =>
        bases += covA * covB * (pos - prev)
        covA += da; covB += db; prev = pos
      }
    }
    Ans(pairs, bases)
  }

  private val schema = StructType(Seq(StructField("contig", StringType, nullable = false),
    StructField("pos_start", IntegerType, nullable = false),
    StructField("pos_end", IntegerType, nullable = false)))

  def load(spark: SparkSession, in: In): Data = {
    val parts = spark.sparkContext.defaultParallelism * 2
    def df(sd: Side, view: String): DataFrame = {
      val rows = (0 until sd.size).map(i =>
        Row(in.contigs(sd.contig(i)), sd.start(i), sd.end(i)))
      val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema).cache()
      d.count()
      d.createOrReplaceTempView(view)
      d
    }
    Data(df(in.a, "a"), df(in.b, "b"))
  }

  def unload(d: Data): Unit = { d.a.unpersist(blocking = true); d.b.unpersist(blocking = true) }

  private val On = "a.contig = b.contig AND a.pos_end >= b.pos_start AND a.pos_start <= b.pos_end"
  val CountSql = s"SELECT count(*) FROM a JOIN b ON $On"
  val BasesSql = "SELECT sum(least(a.pos_end, b.pos_end) - " +
    s"greatest(a.pos_start, b.pos_start) + 1) FROM a JOIN b ON $On"

  // SQL metrics of each traced operation's executed plans, read by opLayers
  private val layerRows = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
  private var modes = Set.empty[String]

  def op(spark: SparkSession, d: Data, t: Tracer): Ans = {
    val count = spark.sql(CountSql)
    t.span("plans.plan")(count.queryExecution.executedPlan)
    val pairs = t.span("plans.count")(count.collect()).head.getLong(0)
    val join = spark.sql(BasesSql)
    t.span("plans.plan")(join.queryExecution.executedPlan)
    val bases = t.span("plans.join")(join.collect()).head.getLong(0)
    if (t.enabled) record(count, join)
    Ans(pairs, bases)
  }

  private def record(count: DataFrame, join: DataFrame): Unit = {
    val joins = PlanMetrics.named(join, "IntervalJoin")
    val probeRows = PlanMetrics.sum(joins, "probeRows").toDouble
    val out = PlanMetrics.sum(joins, "numOutputRows").toDouble
    modes ++= Set("count:" + PlanMetrics.mode(PlanMetrics.named(count, "IntervalCount")),
      "join:" + PlanMetrics.mode(joins))
    layerRows += Map(
      "plans.build_s" -> PlanMetrics.sum(joins, "buildTime") / 1e3,
      "plans.build_mem_bytes" -> PlanMetrics.sum(joins, "buildMemUsed").toDouble,
      "plans.build_rows" -> PlanMetrics.sum(joins, "buildRows").toDouble,
      "plans.probe_rows" -> probeRows,
      "plans.output_rows" -> out,
      "plans.pairs_per_probe_row" -> (if (probeRows > 0) out / probeRows else 0.0))
  }

  def check(exp: Ans, warm: Ans, got: Ans): Boolean = got == exp

  def offByOne(exp: Ans): Seq[Ans] = {
    Seq(exp.copy(pairs = exp.pairs + 1), exp.copy(pairs = exp.pairs - 1),
      exp.copy(bases = exp.bases + 1))
  }

  def workPerOp(in: In, exp: Ans): Long = exp.pairs

  override def opLayers(tracedOps: Int, t: Tracer): ProbeResult = {
    val n = math.max(tracedOps, 1)
    def perOp(prefix: String) = t.named(prefix).filter(_.op >= 0).map(_.seconds).sum / n
    val fromPlans = layerRows.flatten.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sum / vs.size }
    ProbeResult(fromPlans ++ Map(
      "plans.plan_s" -> perOp("plans.plan"),
      "plans.count_s" -> perOp("plans.count"),
      "plans.join_s" -> perOp("plans.join")),
      Map("plans.mode" -> modes.toSeq.sorted.mkString(",")), consistent = true)
  }

  /** Driver-side calls into the rangejoin module on this workload's own
    * intervals: per contig, index the a side and count each b interval's
    * hits, for every algorithm at both coordinate widths. */
  override def probes(spark: SparkSession, in: In, d: Data, warm: Ans, t: Tracer,
      prof: StageProfile): ProbeResult = {
    val sides = (0 until Contigs).map(ci => (byContig(in.a, ci), byContig(in.b, ci)))
    var consistent = true
    val labels = collection.mutable.Map.empty[String, String]
    val metrics = for {
      alg <- Metrics.rangejoinAlgorithms
      width <- Metrics.rangejoinWidths
    } yield {
      val key = s"rangejoin.$alg.$width"
      val (buildS, probeS, hits) = t.span(key)(indexProbe(alg, width == "i64", sides))
      if (hits != warm.pairs) { consistent = false; labels(key) = s"hits $hits != ${warm.pairs}" }
      Map(s"$key.build_ns_per_interval" -> buildS * 1e9 / in.a.size,
        s"$key.probe_ns_per_query" -> probeS * 1e9 / in.b.size,
        s"$key.ns_per_hit" -> (if (hits > 0) probeS * 1e9 / hits else 0.0))
    }
    ProbeResult(metrics.flatten.toMap, labels.toMap, consistent)
  }

  /** (build seconds, probe seconds, hits) of the second of two passes, so
    * the first pays the JIT. Wide coordinates sit past Int32 range, as
    * epoch-style Longs do. */
  private def indexProbe(alg: String, wide: Boolean,
      sides: Seq[((Array[Int], Array[Int]), (Array[Int], Array[Int]))]): (Double, Double, Long) = {
    val shift = 3000000000L
    def pass(): (Double, Double, Long) = {
      var buildNs = 0L; var probeNs = 0L; var hits = 0L
      sides.foreach { case ((as, ae), (bs, be)) =>
        val positions = Array.range(0, as.length)
        var i = 0
        if (wide) {
          val s = as.map(_ + shift); val e = ae.map(_ + shift)
          val t0 = System.nanoTime()
          val idx = LongIntervalIndex.build(alg, s, e, positions)
          val t1 = System.nanoTime()
          while (i < bs.length) { hits += idx.count(bs(i) + shift, be(i) + shift); i += 1 }
          buildNs += t1 - t0; probeNs += System.nanoTime() - t1
        } else {
          val t0 = System.nanoTime()
          val idx = IntervalIndex.build(alg, as, ae, positions)
          val t1 = System.nanoTime()
          while (i < bs.length) { hits += idx.count(bs(i), be(i)); i += 1 }
          buildNs += t1 - t0; probeNs += System.nanoTime() - t1
        }
      }
      (buildNs / 1e9, probeNs / 1e9, hits)
    }
    pass(); pass()
  }
}
