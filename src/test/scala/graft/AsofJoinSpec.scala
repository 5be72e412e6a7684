package graft

import graft.operators.AsofJoin

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * AS-OF join semantics (pandas merge_asof / DuckDB ASOF JOIN; beyond the
 * reference): each case compares against a window-function oracle — join
 * all qualifying pairs, rank by build time, keep the best — on random
 * per-key event sets with UNIQUE (key, time) build rows (the documented
 * determinism contract).
 */
class AsofJoinSpec extends SparkTestBase {

  import spark.implicits._

  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
  }

  /** n events with unique (key, t); Long times offset by `base`. */
  private def events(n: Int, seed: Int, base: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val seen = scala.collection.mutable.Set[(String, Long)]()
    val rows = Iterator.continually {
      (s"k${rnd.nextInt(4)}", base + rnd.nextInt(100000).toLong)
    }.filter(seen.add).take(n).toSeq
    rows.map { case (k, t) => (k, t, s"$k@$t") }.toDF("key", "t", "tag")
  }

  /** Window oracle: per probe row, the qualifying build row ranked best. */
  private def oracle(build: DataFrame, probe: DataFrame, forward: Boolean,
      strict: Boolean): Set[Seq[Any]] = {
    val b = build.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val p = probe.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    val timeCond =
      (forward, strict) match {
        case (false, false) => col("bt") <= col("pt")
        case (false, true) => col("bt") < col("pt")
        case (true, false) => col("bt") >= col("pt")
        case (true, true) => col("bt") > col("pt")
      }
    val w = Window.partitionBy(col("ptag"))
      .orderBy(if (forward) col("bt").asc else col("bt").desc)
    p.join(b, col("bk") === col("pk") && timeCond, "left_outer")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("bk"), col("bt"), col("btag"), col("pk"), col("pt"),
        col("ptag"))
      .collect().map(_.toSeq).toSet
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(build: DataFrame, probe: DataFrame, forward: Boolean,
      strict: Boolean): DataFrame = {
    val b = build.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val p = probe.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    val timeCond = (forward, strict) match {
      case (false, false) => b("bt") <= p("pt")
      case (false, true) => b("bt") < p("pt")
      case (true, false) => b("bt") >= p("pt")
      case (true, true) => b("bt") > p("pt")
    }
    AsofJoin(b, p, b("bk") === p("pk") && timeCond)
  }

  for (forward <- Seq(false, true); strict <- Seq(false, true)) {
    val name = s"${if (forward) "forward" else "backward"}" +
      s"${if (strict) " strict" else ""}"
    test(s"asof $name ≡ window oracle (Int and Long times)") {
      for (base <- Seq(0L, 1704067200000000L)) {
        val b = events(300, 1 + base.toInt % 7, base).cache()
        val p = events(300, 2, base).cache()
        b.count(); p.count()
        val df = run(b, p, forward, strict)
        val plan = planOf(df)
        assert(plan.contains("IntervalJoinExec"), plan)
        assert(plan.contains("join_type=Asof"), plan)
        assert(df.collect().map(_.toSeq).toSet == oracle(b, p, forward, strict),
          s"base=$base")
        b.unpersist(); p.unpersist()
      }
    }
  }

  test("asof partitioned mode matches broadcast") {
    val b = events(400, 5, 0L).cache(); val p = events(400, 6, 0L).cache()
    b.count(); p.count()
    val broadcastRes = run(b, p, forward = false, strict = false)
      .collect().map(_.toSeq).toSet
    pinMode("partitioned")
    val df = run(b, p, forward = false, strict = false)
    assert(planOf(df).contains("mode=Partitioned"), planOf(df))
    assert(df.collect().map(_.toSeq).toSet == broadcastRes)
    b.unpersist(); p.unpersist()
  }

  test("unmatched probe keys and out-of-range times NULL-pad") {
    val b = Seq(("a", 10L, "a@10"), ("a", 20L, "a@20")).toDF("key", "t", "tag")
    val p = Seq(("a", 15L, "a@15"), ("a", 5L, "a@5"), ("z", 50L, "z@50"))
      .toDF("key", "t", "tag")
    val rows = run(b, p, forward = false, strict = false)
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("a", 10L, "a@10", "a", 15L, "a@15"),
      Seq(null, null, null, "a", 5L, "a@5"),
      Seq(null, null, null, "z", 50L, "z@50")))
    // boundary equality: strict excludes, inclusive takes it
    val pEq = Seq(("a", 20L, "a@20p")).toDF("key", "t", "tag")
    assert(run(b, pEq, forward = false, strict = false).collect()
      .head.getString(2) == "a@20")
    assert(run(b, pEq, forward = false, strict = true).collect()
      .head.getString(2) == "a@10")
  }

  test("strict shifts at the Long domain extremes NULL-pad, never wrap") {
    val b = Seq(("a", 10L, "b10")).toDF("key", "t", "tag")
    val pMax = Seq(("a", Long.MaxValue, "pmax")).toDF("key", "t", "tag")
    val pMin = Seq(("a", Long.MinValue, "pmin")).toDF("key", "t", "tag")
    // strict forward at MaxValue: no build time can be > MaxValue
    val fwdRow = run(b, pMax, forward = true, strict = true).collect().head
    assert(fwdRow.isNullAt(0) && fwdRow.isNullAt(2), fwdRow.toString)
    // strict backward at MinValue: no build time can be < MinValue
    val bwdRow = run(b, pMin, forward = false, strict = true).collect().head
    assert(bwdRow.isNullAt(0) && bwdRow.isNullAt(2), bwdRow.toString)
  }

  test("tolerance residual NULL-pads out-of-tolerance picks (merge_asof)") {
    val b = Seq(("a", 10L, "b10"), ("a", 100L, "b100"))
      .toDF("key", "t", "tag")
    val p = Seq(("a", 150L, "p150"), ("a", 300L, "p300"), ("a", 5L, "p5"))
      .toDF("key", "t", "tag")
    val bb = b.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val pp = p.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    // backward within 60 ticks: first inequality = axis, second = tolerance
    val df = AsofJoin(bb, pp, bb("bk") === pp("pk") &&
      bb("bt") <= pp("pt") && bb("bt") >= pp("pt") - 60L)
    val got = df.select("ptag", "btag").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // p150: latest <= 150 is b100, gap 50 <= 60 → match
    // p300: latest <= 300 is b100, gap 200 > 60 → NULL (not b10 either)
    // p5: no build <= 5 → NULL
    assert(got == Map("p150" -> "b100", "p300" -> null, "p5" -> null))
  }

  test("tolerance written BEFORE the axis cannot flip the direction") {
    // review-trap regression: `p.t - 60 <= b.t` first — its composite
    // operand disqualifies it as the axis, so the bare `b.t <= p.t`
    // still selects BACKWARD regardless of conjunct order
    val b = Seq(("a", 95L, "b95"), ("a", 100L, "b100"))
      .toDF("key", "t", "tag")
    val p = Seq(("a", 150L, "p150")).toDF("key", "t", "tag")
    val bb = b.select(col("key").as("bk"), col("t").as("bt"),
      col("tag").as("btag"))
    val pp = p.select(col("key").as("pk"), col("t").as("pt"),
      col("tag").as("ptag"))
    for (cond <- Seq(
        bb("bk") === pp("pk") && pp("pt") - 60L <= bb("bt") && bb("bt") <= pp("pt"),
        bb("bk") === pp("pk") && bb("bt") <= pp("pt") && pp("pt") - 60L <= bb("bt"))) {
      val got = AsofJoin(bb, pp, cond).select("btag").collect().head.getString(0)
      assert(got == "b100", s"cond: $cond") // latest-within-60, both orders
    }
  }

  test("invalid conditions are rejected with a clear message") {
    val b = Seq(("a", 1L, "x")).toDF("key", "t", "tag")
    val p = Seq(("a", 1L, "y")).toDF("key", "t", "tag")
    val ex = intercept[IllegalArgumentException] {
      AsofJoin(b, p, b("key") === p("key")) // no time inequality
    }
    assert(ex.getMessage.contains("AsofJoin condition"))
    // composite-only inequality: no bare-column axis exists
    val ex2 = intercept[IllegalArgumentException] {
      AsofJoin(b, p, b("key") === p("key") && b("t") + 1L <= p("t"))
    }
    assert(ex2.getMessage.contains("AsofJoin condition"))
    // single-side residual: belongs on the input DataFrame, not here
    val ex3 = intercept[IllegalArgumentException] {
      AsofJoin(b, p, b("key") === p("key") && b("t") <= p("t") &&
        b("tag") === "x")
    }
    assert(ex3.getMessage.contains("single-side"))
    // a cross-side <=> key would silently plan KEYLESS (global pick +
    // post-pick filter) — must be rejected, not demoted to residual
    val ex4 = intercept[IllegalArgumentException] {
      AsofJoin(b, p, b("key") <=> p("key") && b("t") <= p("t"))
    }
    assert(ex4.getMessage.contains("AsofJoin condition"))
  }
}
