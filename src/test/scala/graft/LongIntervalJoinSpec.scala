package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Interval joins on Long coordinates beyond Int32: domains the
 * reference cannot join at all — its checked Int32 narrowing fails any
 * bound beyond ±2^31 (reference: interval_join.rs:1661-1672, pinned
 * :1927-1968). Every test compares against the stock Spark join on the
 * same data (join+filter oracle), at epoch-microsecond magnitudes (~1.7e15)
 * where Double arithmetic is also no longer exact.
 */
class LongIntervalJoinSpec extends SparkTestBase {

  import spark.implicits._

  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
  }

  // epoch-micro-ish base: 2024-01-01T00:00:00Z in micros
  private val Base = 1704067200000000L

  /** n random [start, start+len] windows at epoch-micro scale, keyed by a
    * small user set. */
  private def windows(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val s = Base + rnd.nextLong(86400000000L) // within one day
      (s"u${rnd.nextInt(5)}", s, s + rnd.nextInt(60000000)) // <= 60 s
    }.toDF("key", "win_start", "win_end")
  }

  private def joined(a: DataFrame, b: DataFrame, withKey: Boolean = true,
      strict: Boolean = false): DataFrame = {
    val al = a.select($"key".as("ak"), $"win_start".as("a_start"),
      $"win_end".as("a_end"))
    val bl = b.select($"key".as("bk"), $"win_start".as("b_start"),
      $"win_end".as("b_end"))
    val range =
      if (strict) $"a_start" < $"b_end" && $"a_end" > $"b_start"
      else $"a_start" <= $"b_end" && $"a_end" >= $"b_start"
    val cond = if (withKey) $"ak" === $"bk" && range else range
    al.join(bl, cond)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def stockSet(df: => DataFrame): Set[Seq[Any]] = {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val res = df.collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    res
  }

  test("auto width picks the int64 index for Long bounds; results match stock") {
    val a = windows(300, 1).cache(); val b = windows(300, 2).cache()
    a.count(); b.count()
    // broadcast-mode WSCG must compile (no silent interpreted fallback)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = joined(a, b)
      val plan = planOf(df)
      assert(plan.contains("IntervalJoinExec"), plan)
      assert(df.collect().map(_.toSeq).toSet == stockSet(joined(a, b)))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // strict predicates go through the minusOne rewrite at Long width
    val ds = joined(a, b, strict = true)
    assert(planOf(ds).contains("IntervalJoinExec"), planOf(ds))
    assert(ds.collect().map(_.toSeq).toSet ==
      stockSet(joined(a, b, strict = true)))
    a.unpersist(); b.unpersist()
  }

  test("partitioned mode + whole-stage codegen on the long walk") {
    pinMode("partitioned")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val a = windows(400, 3).cache(); val b = windows(400, 4).cache()
      a.count(); b.count()
      val df = joined(a, b)
      assert(df.collect().map(_.toSeq).toSet == stockSet(joined(a, b)))
      val plan = planOf(df)
      assert("""\*\(\d+\) IntervalJoinExec""".r.findFirstIn(plan).isDefined,
        s"expected IntervalJoinExec inside WholeStageCodegen:\n$plan")
      a.unpersist(); b.unpersist()
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("outer / semi / anti / full join types at int64 match stock") {
    val a = windows(150, 5).cache(); val b = windows(150, 6).cache()
    a.count(); b.count()
    val al = a.select($"key".as("ak"), $"win_start".as("a_start"),
      $"win_end".as("a_end"))
    val bl = b.select($"key".as("bk"), $"win_start".as("b_start"),
      $"win_end".as("b_end"))
    val cond = $"ak" === $"bk" &&
      $"a_start" <= $"b_end" && $"a_end" >= $"b_start"
    for (jt <- Seq("right_outer", "left_outer", "left_semi", "left_anti",
        "full_outer")) {
      val df = al.join(bl, cond, jt)
      assert(planOf(df).contains("IntervalJoinExec"), s"$jt:\n${planOf(df)}")
      val got = df.collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "false")
      val exp = al.join(bl, cond, jt).collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "true")
      assert(got == exp, s"join type $jt")
    }
    a.unpersist(); b.unpersist()
  }

  test("COUNT(*) pushdown counts Long-bound overlaps exactly") {
    val a = windows(500, 7).cache(); val b = windows(500, 8).cache()
    a.count(); b.count()
    val agg = joined(a, b).groupBy($"bk").agg(count(lit(1)).as("n"))
    assert(planOf(agg).contains("IntervalCountExec"), planOf(agg))
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = joined(a, b).groupBy($"bk").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  test("nearest join at int64: one row per probe, correct nearest pick") {
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "nearest")
    try {
      // Option[Long] → nullable columns: the conf-gated nearest path
      // NULL-pads through the logical Inner join's schema (see the Int
      // nearest test for the same requirement)
      val a = Seq(
        ("u0", Option(Base), Option(Base + 10L)),
        ("u0", Option(Base + 1000000L), Option(Base + 1000010L)),
        ("u1", Option(Base + 50L), Option(Base + 60L))
      ).toDF("key", "win_start", "win_end")
      val b = Seq(
        ("u0", Option(Base + 5L), Option(Base + 7L)),       // overlaps first
        ("u0", Option(Base + 999000L), Option(Base + 999100L)), // nearest = second (gap 900)
        ("u2", Option(Base), Option(Base + 1L))             // no key match -> NULL pad
      ).toDF("key", "win_start", "win_end")
      val df = joined(a, b)
      assert(planOf(df).contains("join_type=Nearest"), planOf(df))
      val rows = df.collect().map(_.toSeq)
      assert(rows.length == 3)
      assert(rows.contains(Seq("u0", Base, Base + 10L,
        "u0", Base + 5L, Base + 7L)))
      assert(rows.contains(Seq("u0", Base + 1000000L, Base + 1000010L,
        "u0", Base + 999000L, Base + 999100L)))
      assert(rows.contains(Seq(null, null, null, "u2", Base, Base + 1L)))
    } finally {
      spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
    }
  }

  test("keyless Long range join matches stock") {
    val a = windows(80, 9); val b = windows(80, 10)
    val df = joined(a, b, withKey = false)
    assert(planOf(df).contains("IntervalJoinExec"), planOf(df))
    assert(df.collect().map(_.toSeq).toSet ==
      stockSet(joined(a, b, withKey = false)))
  }

  test("every algorithm slot is real at int64 (pinned, plan-shown, ≡ stock)") {
    val a = windows(200, 20).cache(); val b = windows(200, 21).cache()
    a.count(); b.count()
    val exp = stockSet(joined(a, b))
    for (alg <- Seq("ailist", "lapper", "intervaltree", "naive")) {
      spark.conf.set(GraftSession.IntervalJoinAlgorithm, alg)
      val df = joined(a, b)
      val plan = planOf(df)
      assert(plan.contains(s"alg=$alg"), plan)
      assert(df.collect().map(_.toSeq).toSet == exp, s"alg=$alg")
    }
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
    a.unpersist(); b.unpersist()
  }

  test("randomized equivalence sweep at int64 (both modes)") {
    val rnd = new scala.util.Random(11)
    for (mode <- Seq("broadcast", "partitioned")) {
      pinMode(mode)
      val a = windows(200 + rnd.nextInt(100), 12).cache()
      val b = windows(200 + rnd.nextInt(100), 13).cache()
      a.count(); b.count()
      val df = joined(a, b)
      assert(planOf(df).contains("IntervalJoinExec"), planOf(df))
      assert(df.collect().map(_.toSeq).toSet == stockSet(joined(a, b)),
        s"mode=$mode")
      a.unpersist(); b.unpersist()
    }
  }
}
