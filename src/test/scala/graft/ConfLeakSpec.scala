package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.functions._

/** Every `SparkEntry.queries` entry plans in its own clone of the
  * caller's session, so an entry's conf pins (q14's algorithm=nearest,
  * q105's 1 KB broadcast and bloom thresholds, a streaming replay's
  * 8-partition width) can neither leak into the caller's session nor be
  * undone by whatever entry is built or runs next — serially or on
  * another thread. The planner rules read the planning session's conf,
  * which is what lets a clone's pins take effect at all. */
class ConfLeakSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Rows as sorted strings, floats rounded to 6 places (the oracle
    * compare's normalization): summation order may differ with the
    * partitioning, the rounded values may not. */
  private def rows(df: DataFrame): Seq[String] = {
    def canon(v: Any): Any = v match {
      case d: Double => BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_EVEN)
      case f: Float => BigDecimal(f.toDouble).setScale(6,
        BigDecimal.RoundingMode.HALF_EVEN)
      case r: Row => r.toSeq.map(canon)
      case s: scala.collection.Seq[_] => s.map(canon)
      case o => o
    }
    df.collect().map(r => canon(r).toString).toSeq.sorted
  }

  private def entry(name: String, base: org.apache.spark.sql.SparkSession =
      spark): DataFrame = SparkEntry.queries(name)(base, dir)

  test("streaming replay's shuffle-partition pin does not leak") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    entry("q71_streaming_window").count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "runStreamToTable left its 8-partition replay pin in the session")
  }

  test("q105's threshold pins do not leak into the next entry") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(threshold)
    entry("q105_runtime_filter").count()
    val after = entry("q3_join_agg")
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"small-dim join lost its broadcast after q105's pins:\n$plan")
    assert(!plan.toLowerCase.contains("might_contain"),
      s"bloom threshold pin leaked into a plain query:\n$plan")
    assert(spark.conf.get(threshold) == before)
  }

  test("a built entry keeps its pins when another entry is built before " +
       "it runs") {
    val alone = rows(entry("q14_interval_nearest"))
    // both frames are lazy: q14 is planned only after q10 was built
    val q14 = entry("q14_interval_nearest")
    entry("q10_interval_join")
    val plan = q14.queryExecution.executedPlan.toString
    assert(plan.contains("join_type=Nearest"),
      s"q14 lost its algorithm=nearest pin:\n$plan")
    assert(rows(q14) == alone)
  }

  test("a clone of an installed session plans under its own confs") {
    val base = spark.newSession()
    GraftSession.install(base)
    val clone = GraftSqlShim.cloneSession(base)
    clone.conf.set(GraftSession.IntervalJoinAlgorithm, "lapper")
    def join(s: org.apache.spark.sql.SparkSession): String = {
      val a = s.range(0, 50).select(lit(1).as("ca"), col("id").as("sa"),
        (col("id") + 5).as("ea"))
      val b = s.range(0, 50).select(lit(1).as("cb"), col("id").as("sb"),
        (col("id") + 3).as("eb"))
      a.join(b, col("ca") === col("cb") && col("sa") <= col("eb") &&
          col("ea") >= col("sb"))
        .queryExecution.executedPlan.toString
    }
    val onClone = join(clone)
    assert(onClone.contains("alg=lapper"), onClone)
    val onBase = join(base)
    assert(onBase.contains("alg=superintervals"), onBase)
  }

  test("an entry's fresh clone reuses the generated code of the last one") {
    // an artifact-isolated clone would get its own executor class loader
    // and recompile every generated class (Spark keys them by loader)
    import org.apache.spark.metrics.source.CodegenMetrics
    entry("q10_interval_join").collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    entry("q10_interval_join").collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the second clone recompiled q10's generated classes")
  }

  test("entries running concurrently on one session match serial runs") {
    val names = Seq("q13_interval_partitioned", "q14_interval_nearest",
      "q42_interval_skew", "q105_runtime_filter", "q122_containment",
      "q127_curation_report", "q70_dedup_groups_star",
      "q77_dedup_star_scale", "q71_streaming_window")
    val serial = names.map(n => n -> rows(entry(n))).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val order = new scala.util.Random(6).shuffle(names ++ names)
      val runs = order.map { n =>
        n -> pool.submit(() => rows(entry(n)))
      }
      runs.foreach { case (n, f) =>
        // an engine require() tripping (q77's star pin) fails the get
        val got = f.get(10, java.util.concurrent.TimeUnit.MINUTES)
        assert(got == serial(n), s"$n differs from its serial run")
      }
    } finally pool.shutdownNow()
  }

  test("results do not depend on the base session's shuffle partitions") {
    val names = Seq("q10_interval_join", "q13_interval_partitioned",
      "q16_interval_count", "q42_interval_skew", "q50_asof",
      "q21_dedup_minhash", "q56_dedup_groups", "q122_containment",
      "q127_curation_report")
    val bases = Seq(1, 4, 200).map(n => n -> GraftSqlShim.cloneSession(
      spark, "spark.sql.shuffle.partitions" -> n.toString))
    names.foreach { n =>
      val byWidth = bases.map { case (w, b) => w -> rows(entry(n, b)) }
      byWidth.tail.foreach { case (w, got) =>
        assert(got == byWidth.head._2,
          s"$n at $w shuffle partitions differs from 1 partition")
      }
    }
  }
}
