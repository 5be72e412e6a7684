package graft

import graft.operators.AsofJoin

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}

/**
 * Temporal interval-bound support: RAW TimestampType / DateType columns
 * recognized as interval bounds (normalized to epoch micros / days by the
 * condition recognizers), so time-range and as-of joins plan onto the
 * indexed path without manual epoch conversion. Beyond the reference —
 * its coordinates are Int32-only. Every case compares against the stock
 * Spark join on identical data.
 */
class TemporalIntervalJoinSpec extends SparkTestBase {

  import spark.implicits._

  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
  }

  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** Random [t, t+len] timestamp windows (micro resolution) keyed small. */
  private def tsWindows(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val t = BaseMs * 1000L + rnd.nextLong(86400000000L) // micros in a day
      (s"u${rnd.nextInt(4)}",
        new Timestamp(t / 1000).toInstant
          .plusNanos((t % 1000) * 1000).toString, // ISO with micros
        rnd.nextInt(60000000))
    }.toDF("key", "iso", "len_us")
      .select(col("key"),
        to_timestamp(col("iso")).as("w_start"),
        (to_timestamp(col("iso")) + make_dt_interval(
          lit(0), lit(0), lit(0), col("len_us") / 1e6)).as("w_end"))
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def overlap(a: DataFrame, b: DataFrame,
      strict: Boolean = false): DataFrame = {
    val al = a.select(col("key").as("ak"), col("w_start").as("a_s"),
      col("w_end").as("a_e"))
    val bl = b.select(col("key").as("bk"), col("w_start").as("b_s"),
      col("w_end").as("b_e"))
    val range =
      if (strict) al("a_s") < bl("b_e") && al("a_e") > bl("b_s")
      else al("a_s") <= bl("b_e") && al("a_e") >= bl("b_s")
    al.join(bl, al("ak") === bl("bk") && range)
  }

  private def stockSet(df: => DataFrame): Set[Seq[Any]] = {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val res = df.collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    res
  }

  test("timestamp-bound overlap join plans indexed (int64) and matches stock") {
    val a = tsWindows(250, 1).cache(); val b = tsWindows(250, 2).cache()
    a.count(); b.count()
    val df = overlap(a, b)
    val plan = planOf(df)
    assert(plan.contains("IntervalJoinExec"), plan)
    assert(df.collect().map(_.toSeq).toSet == stockSet(overlap(a, b)))
    // strict: exact 1-micro shift
    val ds = overlap(a, b, strict = true)
    assert(planOf(ds).contains("IntervalJoinExec"), planOf(ds))
    assert(ds.collect().map(_.toSeq).toSet ==
      stockSet(overlap(a, b, strict = true)))
    a.unpersist(); b.unpersist()
  }

  test("strict vs inclusive differ exactly at equal boundary timestamps") {
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 11:00:00")
    val t2 = Timestamp.valueOf("2024-01-01 12:00:00")
    val a = Seq(("k", t0, t1)).toDF("key", "w_start", "w_end")
    val b = Seq(("k", t1, t2)).toDF("key", "w_start", "w_end") // touch at t1
    assert(overlap(a, b).count() == 1) // inclusive: touching counts
    assert(overlap(a, b, strict = true).count() == 0) // strict: not
  }

  test("date-bound overlap join (epoch days, narrow width) matches stock") {
    def d(s: String) = Date.valueOf(s)
    val a = Seq(("k", d("2024-01-01"), d("2024-01-10")),
      ("k", d("2024-02-01"), d("2024-02-05"))).toDF("key", "d_start", "d_end")
    val b = Seq(("k", d("2024-01-10"), d("2024-01-20")), // touches 01-10
      ("k", d("2024-01-11"), d("2024-01-12")),
      ("k", d("2024-02-04"), d("2024-02-28"))).toDF("key", "d_start", "d_end")
    val al = a.select(col("key").as("ak"), col("d_start").as("a_s"),
      col("d_end").as("a_e"))
    val bl = b.select(col("key").as("bk"), col("d_start").as("b_s"),
      col("d_end").as("b_e"))
    val cond = al("ak") === bl("bk") &&
      al("a_s") <= bl("b_e") && al("a_e") >= bl("b_s")
    val df = al.join(bl, cond)
    assert(planOf(df).contains("IntervalJoinExec"), planOf(df))
    assert(df.count() == 2)
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = al.join(bl, cond).count()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(exp == 2)
    // strict on dates: touching day no longer overlaps
    val dfs = al.join(bl, al("ak") === bl("bk") &&
      al("a_s") < bl("b_e") && al("a_e") > bl("b_s"))
    assert(dfs.count() == 1)
  }

  test("as-of join on raw timestamp columns") {
    val b = Seq(
      ("u", Timestamp.valueOf("2024-01-01 09:00:00"), "b9"),
      ("u", Timestamp.valueOf("2024-01-01 11:00:00"), "b11")
    ).toDF("key", "t", "tag")
    val p = Seq(
      ("u", Timestamp.valueOf("2024-01-01 10:30:00"), "p1030"),
      ("u", Timestamp.valueOf("2024-01-01 11:00:00"), "p1100"),
      ("u", Timestamp.valueOf("2024-01-01 08:00:00"), "p0800")
    ).toDF("key", "t", "tag")
    val bb = b.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val pp = p.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    val df = AsofJoin(bb, pp, bb("bk") === pp("pk") && bb("bt") <= pp("pt"))
    assert(planOf(df).contains("join_type=AsofBackward"), planOf(df))
    val got = df.select("btag", "ptag").collect()
      .map(r => (r.getString(1), r.getString(0))).toMap
    assert(got == Map("p1030" -> "b9", "p1100" -> "b11", "p0800" -> null))
  }

  /** NTZ windows derived from [[tsWindows]] by wall-clock reinterpretation
    * (session tz is UTC, so values are identical micros). */
  private def ntzWindows(n: Int, seed: Int): DataFrame =
    tsWindows(n, seed).select(col("key"),
      col("w_start").cast("timestamp_ntz").as("w_start"),
      col("w_end").cast("timestamp_ntz").as("w_end"))

  test("TimestampNTZ bounds plan indexed (int64) and match stock") {
    // Since round 11 the driver testdata itself reads as NTZ — the
    // recognizer extracts NTZ's internal micros directly (NtzMicros,
    // timezone-free), so NTZ range predicates get the indexed join
    // instead of silently losing it to a stock hash/NLJ plan.
    val a = ntzWindows(250, 5).cache(); val b = ntzWindows(250, 6).cache()
    a.count(); b.count()
    val df = overlap(a, b)
    val plan = planOf(df)
    assert(plan.contains("IntervalJoinExec"), plan)
    assert(df.collect().map(_.toSeq).toSet == stockSet(overlap(a, b)))
    // strict: exact 1-micro shift on the NTZ micros
    val ds = overlap(a, b, strict = true)
    assert(planOf(ds).contains("IntervalJoinExec"), planOf(ds))
    assert(ds.collect().map(_.toSeq).toSet ==
      stockSet(overlap(a, b, strict = true)))
    a.unpersist(); b.unpersist()
  }

  test("as-of join on raw TimestampNTZ columns") {
    val b = Seq(("u", "2024-01-01 09:00:00", "b9"),
      ("u", "2024-01-01 11:00:00", "b11")).toDF("key", "t", "tag")
      .select(col("key").as("bk"), to_timestamp_ntz(col("t")).as("bt"),
        col("tag").as("btag"))
    val p = Seq(("u", "2024-01-01 10:30:00", "p1030"),
      ("u", "2024-01-01 11:00:00", "p1100"),
      ("u", "2024-01-01 08:00:00", "p0800")).toDF("key", "t", "tag")
      .select(col("key").as("pk"), to_timestamp_ntz(col("t")).as("pt"),
        col("tag").as("ptag"))
    val df = AsofJoin(b, p, b("bk") === p("pk") && b("bt") <= p("pt"))
    assert(planOf(df).contains("join_type=AsofBackward"), planOf(df))
    val got = df.select("btag", "ptag").collect()
      .map(r => (r.getString(1), r.getString(0))).toMap
    assert(got == Map("p1030" -> "b9", "p1100" -> "b11", "p0800" -> null))
  }

  test("as-of join on DATE columns (epoch days, narrow index)") {
    def d(s: String) = Date.valueOf(s)
    val b = Seq(("u", d("2024-01-01"), "jan1"), ("u", d("2024-03-01"), "mar1"))
      .toDF("key", "t", "tag")
    val p = Seq(("u", d("2024-02-15"), "feb15"), ("u", d("2023-12-25"), "dec25"))
      .toDF("key", "t", "tag")
    val bb = b.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val pp = p.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    val df = AsofJoin(bb, pp, bb("bk") === pp("pk") && bb("bt") <= pp("pt"))
    assert(planOf(df).contains("join_type=AsofBackward"), planOf(df))
    val got = df.select("ptag", "btag").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("feb15" -> "jan1", "dec25" -> null))
  }

  test("COUNT over timestamp intervals uses the count pushdown") {
    val a = tsWindows(300, 3).cache(); val b = tsWindows(300, 4).cache()
    a.count(); b.count()
    val agg = overlap(a, b).groupBy(col("bk")).agg(count(lit(1)).as("n"))
    assert(planOf(agg).contains("IntervalCountExec"), planOf(agg))
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = overlap(a, b).groupBy(col("bk")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }
}
