package graft

import graft.plans.IntervalJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/**
 * End-to-end tests of the interval join operator, porting the reference's
 * integration suite (reference: sequila-core/tests/integration_test.rs) to
 * the FIXTURES.md tables: reads × targets golden results, the 12-row
 * boundary micro-fixture (inclusive=10 / strict=6 matches), nearest join
 * with NULL padding, NULL equi-keys, Int32 domain edges, plan-shape
 * assertions, and equivalence with the stock Spark join.
 */
class IntervalJoinSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // FIXTURES.md §1 — reads (12 rows) and targets (10 rows)
  private def reads: DataFrame = Seq(
    ("chr1", 150, 250), ("chr1", 190, 300), ("chr1", 300, 501),
    ("chr1", 500, 700), ("chr1", 22000, 22300), ("chr1", 15000, 15000),
    ("chr2", 150, 250), ("chr2", 190, 300), ("chr2", 300, 500),
    ("chr2", 500, 700), ("chr2", 22000, 22300), ("chr2", 15000, 15000)
  ).toDF("contig", "pos_start", "pos_end")

  private def targets: DataFrame = Seq(
    ("chr1", 100, 190), ("chr1", 200, 290), ("chr1", 400, 600),
    ("chr1", 10000, 20000), ("chr1", 22100, 22100),
    ("chr2", 100, 190), ("chr2", 200, 290), ("chr2", 400, 600),
    ("chr2", 10000, 20000), ("chr2", 22100, 22100)
  ).toDF("contig", "pos_start", "pos_end")

  private def overlapJoin(a: DataFrame, b: DataFrame,
      withKey: Boolean = true, strict: Boolean = false): DataFrame = {
    val al = a.select($"contig".as("a_contig"), $"pos_start".as("a_start"),
      $"pos_end".as("a_end"))
    val bl = b.select($"contig".as("b_contig"), $"pos_start".as("b_start"),
      $"pos_end".as("b_end"))
    val range =
      if (strict) $"a_start" < $"b_end" && $"a_end" > $"b_start"
      else $"a_start" <= $"b_end" && $"a_end" >= $"b_start"
    val cond = if (withKey) $"a_contig" === $"b_contig" && range else range
    al.join(bl, cond)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertUsesIntervalJoin(df: DataFrame): Unit =
    assert(planOf(df).contains("IntervalJoinExec"),
      s"expected IntervalJoinExec in plan:\n${planOf(df)}")

  private def stockResult(a: DataFrame, b: DataFrame, withKey: Boolean,
      strict: Boolean = false): Set[Seq[Any]] = {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val res = overlapJoin(a, b, withKey, strict).collect()
      .map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    res
  }

  test("reads × targets equi+range golden result (16 rows)") {
    val df = overlapJoin(targets, reads)
    assertUsesIntervalJoin(df)
    val got = df.collect().map(_.toSeq).toSet
    assert(df.count() == 16) // integration_test.rs:42-65
    assert(got == stockResult(targets, reads, withKey = true))
  }

  test("reads × targets pure-range golden result (32 rows)") {
    val df = overlapJoin(targets, reads, withKey = false)
    assertUsesIntervalJoin(df)
    assert(df.count() == 32) // integration_test.rs:120-160
    assert(df.collect().map(_.toSeq).toSet ==
      stockResult(targets, reads, withKey = false))
  }

  // FIXTURES.md §2 — boundary micro-fixture
  private def aOne: DataFrame = Seq(("a", 5, 10)).toDF("contig", "pos_start", "pos_end")
  private def bSweep: DataFrame = Seq(
    ("a", 11, 15), ("a", 10, 15), ("a", 10, 10), ("a", 9, 15), ("a", 5, 15),
    ("a", 4, 15), ("a", 4, 10), ("a", 6, 8), ("a", 4, 8), ("a", 4, 5),
    ("a", 5, 5), ("a", 4, 4)
  ).toDF("contig", "pos_start", "pos_end")

  test("boundary semantics: inclusive predicates match 10 of 12") {
    val df = overlapJoin(aOne, bSweep)
    assertUsesIntervalJoin(df)
    assert(df.count() == 10) // integration_test.rs:261-276
    assert(df.collect().map(_.toSeq).toSet ==
      stockResult(aOne, bSweep, withKey = true))
  }

  test("boundary semantics: strict predicates match 6 of 12") {
    val df = overlapJoin(aOne, bSweep, strict = true)
    assertUsesIntervalJoin(df)
    assert(df.count() == 6) // integration_test.rs:330-341
    assert(df.collect().map(_.toSeq).toSet ==
      stockResult(aOne, bSweep, withKey = true, strict = true))
  }

  test("all 8 condition orderings plan to IntervalJoinExec and agree") {
    val al = targets.select($"contig".as("a_contig"),
      $"pos_start".as("a_start"), $"pos_end".as("a_end"))
    val bl = reads.select($"contig".as("b_contig"),
      $"pos_start".as("b_start"), $"pos_end".as("b_end"))
    val conds = Seq(
      $"a_start" <= $"b_end" && $"a_end" >= $"b_start",
      $"b_end" >= $"a_start" && $"a_end" >= $"b_start",
      $"a_start" <= $"b_end" && $"b_start" <= $"a_end",
      $"b_end" >= $"a_start" && $"b_start" <= $"a_end",
      $"a_end" >= $"b_start" && $"a_start" <= $"b_end",
      $"b_start" <= $"a_end" && $"b_end" >= $"a_start")
    for (c <- conds) {
      val df = al.join(bl, $"a_contig" === $"b_contig" && c)
      assertUsesIntervalJoin(df)
      assert(df.count() == 16, s"cond: $c")
    }
    val strictConds = Seq(
      $"a_start" < $"b_end" && $"a_end" > $"b_start",
      $"b_end" > $"a_start" && $"b_start" < $"a_end")
    for (c <- strictConds) {
      val df = al.join(bl, $"a_contig" === $"b_contig" && c)
      assertUsesIntervalJoin(df)
      val stock = stockResult(targets, reads, withKey = true, strict = true)
      assert(df.collect().map(_.toSeq).toSet == stock, s"cond: $c")
    }
  }

  // FIXTURES.md §3 — nearest join, two equi-keys, NULL padding
  test("nearest join: one row per probe, NULL-padded unmatched keys") {
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "nearest")
    // Option[Int] → nullable int columns: the logical Inner join's schema
    // governs deserialization, so NULL-padding requires nullable inputs on
    // the conf-gated path (like the reference's CSV-sourced fixture).
    val a = Seq(("a", "s", Option(5), Option(10)))
      .toDF("contig", "strand", "pos_start", "pos_end")
    val b = Seq(("a", "s", Option(11), Option(13)),
      ("a", "s", Option(20), Option(21)), ("a", "x", Option(0), Option(1)),
      ("b", "s", Option(1), Option(2)))
      .toDF("contig", "strand", "pos_start", "pos_end")
    val al = a.select($"contig".as("ac"), $"strand".as("as"),
      $"pos_start".as("a_start"), $"pos_end".as("a_end"))
    val bl = b.select($"contig".as("bc"), $"strand".as("bs"),
      $"pos_start".as("b_start"), $"pos_end".as("b_end"))
    val df = al.join(bl, $"ac" === $"bc" && $"as" === $"bs" &&
      $"a_start" < $"b_end" && $"a_end" > $"b_start")
    assertUsesIntervalJoin(df)
    val rows = df.collect().map(_.toSeq).toSet
    assert(rows.size == 4) // one per probe row (integration_test.rs:385-396)
    assert(rows.contains(Seq("a", "s", 5, 10, "a", "s", 11, 13)))
    assert(rows.contains(Seq("a", "s", 5, 10, "a", "s", 20, 21)))
    assert(rows.contains(Seq(null, null, null, null, "a", "x", 0, 1)))
    assert(rows.contains(Seq(null, null, null, null, "b", "s", 1, 2)))
  }

  test("NULL equi-keys do not match each other") {
    val a = Seq(("chr1", 5, 10), (null, 5, 10), (null, 6, 12))
      .toDF("contig", "pos_start", "pos_end")
    val b = Seq(("chr1", 8, 20), (null, 8, 20))
      .toDF("contig", "pos_start", "pos_end")
    val df = overlapJoin(a, b)
    // stock Spark answer: only the chr1×chr1 row
    assert(df.count() == 1)
    assert(df.count() == stockResult(a, b, withKey = true).size)
  }

  test("Long bounds beyond Int32 join correctly under default auto width") {
    // the same query the reference FAILS (test_wrong_datatype) — the
    // Long-backed index answers it
    val a = Seq(("chr1", 5L, 2147483648L), ("chr1", 3_000_000_000L, 4_000_000_000L))
      .toDF("contig", "pos_start", "pos_end")
    val b = Seq(("chr1", 8L, 20L), ("chr1", 3_500_000_000L, 3_600_000_000L),
        ("chr1", 2_500_000_000L, 2_600_000_000L))
      .toDF("contig", "pos_start", "pos_end")
    val df = overlapJoin(a, b)
    assertUsesIntervalJoin(df)
    assert(df.collect().map(_.toSeq).toSet ==
      stockResult(a, b, withKey = true))
  }

  test("strict op at Int.MinValue: the -1 shift must not fail the query") {
    // a.pos_start < b.pos_end with b.pos_end = Int.MinValue shifts the
    // bound to Int.MinValue - 1 — out of the Int32 domain even though
    // every DATA value is a valid Int. The Long index holds it and the row
    // simply matches nothing.
    val a = Seq(("c", 5, 10)).toDF("contig", "pos_start", "pos_end")
    val b = Seq(("c", Int.MinValue, Int.MinValue), ("c", 3, 8))
      .toDF("contig", "pos_start", "pos_end")
    val df = a.join(b, a("contig") === b("contig") &&
      a("pos_start") < b("pos_end") && a("pos_end") > b("pos_start"))
    assertUsesIntervalJoin(df)
    // only the (3, 8) row qualifies: 5 < 8 && 10 > 3
    assert(df.count() == 1)
  }

  test("Int32 domain edges ≡ stock in both modes, codegen strict") {
    // Int bounds at Int.MinValue / Int.MaxValue and one full-domain
    // interval: the generated long[] walk must compare them exactly,
    // inclusive and strict (the strict shift leaves the Int32 domain)
    val edges = Seq(
      ("chr1", Int.MinValue, Int.MinValue), ("chr1", Int.MinValue, 150),
      ("chr1", 600, Int.MaxValue), ("chr1", Int.MaxValue, Int.MaxValue),
      ("chr1", Int.MinValue, Int.MaxValue), ("chr2", Int.MinValue, Int.MaxValue)
    ).toDF("contig", "pos_start", "pos_end")
    val a = targets.union(edges)
    val b = reads.union(edges)
    for (mode <- Seq("broadcast", "partitioned");
         codegen <- Seq("fallback", "strict", "off");
         strict <- Seq(false, true)) {
      pinMode(mode)
      // a codegen bug must fail loudly, not silently fall back
      if (codegen == "strict")
        spark.conf.set("spark.sql.codegen.fallback", "false")
      // whole-stage codegen off: the interpreted probe runs the join
      if (codegen == "off")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try {
        val df = overlapJoin(a, b, strict = strict)
        assert(df.collect().map(_.toSeq).toSet ==
          stockResult(a, b, withKey = true, strict = strict),
          s"mode=$mode codegen=$codegen strict=$strict")
        // read after execution: the AQE plan is final by then
        val plan = planOf(df)
        val fused = """\*\(\d+\) IntervalJoinExec""".r.findFirstIn(plan)
        if (codegen == "off") {
          assert(fused.isEmpty && plan.contains("IntervalJoinExec"),
            s"expected an interpreted IntervalJoinExec:\n$plan")
          // a cross-side filter (not an equality between the sides,
          // which would become a join key) is the join's residual
          val res = df.where(($"a_start".cast("long") + $"b_start") % 2 === 0)
          assert(planOf(res).linesIterator.exists(l =>
            l.contains("IntervalJoinExec") && l.contains("% 2")),
            s"expected the filter as the join's residual:\n${planOf(res)}")
          assert(res.collect().map(_.toSeq).toSet ==
            stockResult(a, b, withKey = true, strict = strict).filter(r =>
              (r(1).asInstanceOf[Int].toLong + r(4).asInstanceOf[Int]) % 2 == 0),
            s"mode=$mode residual strict=$strict")
        } else assert(fused.isDefined,
          s"expected IntervalJoinExec inside WholeStageCodegen:\n$plan")
      } finally {
        spark.conf.unset("spark.sql.codegen.fallback")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("algorithm=nearest fails loudly instead of silently running overlap") {
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "nearest")
    try {
      // residual conjunct beyond the range pair -> nearest is ill-defined;
      // the old behavior silently fell back to a stock OVERLAP join
      val a = Seq(("c", 5, 10, 1)).toDF("contig", "pos_start", "pos_end", "x")
      val b = Seq(("c", 3, 8, 2)).toDF("contig", "pos_start", "pos_end", "y")
      val df = a.join(b, a("contig") === b("contig") &&
        a("pos_start") <= b("pos_end") && a("pos_end") >= b("pos_start") &&
        a("x") =!= b("y"))
      val ex = intercept[Exception] { df.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: msgs(t.getCause)
      assert(msgs(ex).exists(m =>
        m != null && m.contains("GRAFT_INTERVAL_JOIN")), s"got: ${msgs(ex)}")
    } finally spark.conf.set(GraftSession.IntervalJoinAlgorithm,
      "superintervals")
  }

  test("partitioned mode: forced, correct, and contains exchanges") {
    pinMode("partitioned")
    val df = overlapJoin(targets, reads)
    assertUsesIntervalJoin(df)
    assert(df.count() == 16)
    assert(df.collect().map(_.toSeq).toSet ==
      stockResult(targets, reads, withKey = true))
  }

  test("partitioned mode joins inside whole-stage codegen") {
    pinMode("partitioned")
    // a codegen bug must fail loudly, not silently fall back
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = overlapJoin(targets, reads)
      assert(df.collect().map(_.toSeq).toSet ==
        stockResult(targets, reads, withKey = true))
      val plan = df.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) IntervalJoinExec""".r.findFirstIn(plan).isDefined,
        s"expected IntervalJoinExec inside WholeStageCodegen:\n$plan")
      // fused aggregation above the partitioned join
      val agg = overlapJoin(targets, reads).groupBy($"b_contig")
        .agg(sum($"b_start").as("s"))
      val aggGot = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      spark.conf.set(GraftSession.PreferIntervalJoin, "false")
      val aggExp = overlapJoin(targets, reads).groupBy($"b_contig")
        .agg(sum($"b_start").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      spark.conf.set(GraftSession.PreferIntervalJoin, "true")
      assert(aggGot == aggExp)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("two equi-keys, partitioned mode: co-partitioning is correct") {
    // guards the zipPartitions alignment assumption: EnsureRequirements
    // must cluster BOTH sides on the full key set (contig, strand)
    pinMode("partitioned")
    val rnd = new scala.util.Random(21)
    def table(n: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(500)
      (s"chr${rnd.nextInt(3)}", if (rnd.nextBoolean()) "+" else "-",
        s, s + rnd.nextInt(60))
    }.toDF("contig", "strand", "pos_start", "pos_end")
    val a = table(400).cache()
    val b = table(400).cache()
    a.count(); b.count()
    val al = a.select($"contig".as("ac"), $"strand".as("as2"),
      $"pos_start".as("a_start"), $"pos_end".as("a_end"))
    val bl = b.select($"contig".as("bc"), $"strand".as("bs2"),
      $"pos_start".as("b_start"), $"pos_end".as("b_end"))
    val cond = $"ac" === $"bc" && $"as2" === $"bs2" &&
      $"a_start" <= $"b_end" && $"a_end" >= $"b_start"
    val df = al.join(bl, cond)
    assertUsesIntervalJoin(df)
    val got = df.collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = al.join(bl, cond).collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  test("AQE off: still plans IntervalJoinExec with same result") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val df = overlapJoin(targets, reads)
    assertUsesIntervalJoin(df)
    assert(df.count() == 16)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("disabled conf falls back to stock Spark join") {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val df = overlapJoin(targets, reads)
    assert(!planOf(df).contains("IntervalJoinExec"))
    assert(df.count() == 16)
  }

  test("keyless join above broadcast threshold gets the binned plan (or stock when off)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // autoBin rescues the keyless+too-big case that used to be declined:
      // binning manufactures the partitioning key a pure range join lacks
      val df = overlapJoin(targets, reads, withKey = false)
      assert(planOf(df).contains("__graft_bin"), planOf(df))
      assert(planOf(df).contains("IntervalJoinExec"), planOf(df))
      assert(df.count() == 32)
      // with the rewrite off, decline entirely: stock BNLJ, still correct
      spark.conf.set(GraftSession.AutoBin, "off")
      val plain = overlapJoin(targets, reads, withKey = false)
      assert(!planOf(plain).contains("IntervalJoinExec"))
      assert(plain.count() == 32)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set(GraftSession.AutoBin, "auto")
    }
  }

  test("randomized equivalence with stock join (inclusive + strict)") {
    val rnd = new scala.util.Random(7)
    def randomTable(n: Int): DataFrame =
      (0 until n).map { _ =>
        val s = rnd.nextInt(1000)
        (s"chr${rnd.nextInt(4)}", s, s + rnd.nextInt(100))
      }.toDF("contig", "pos_start", "pos_end")
    for (_ <- 0 until 3) {
      val a = randomTable(300)
      val b = randomTable(300)
      a.cache(); b.cache()
      for (strict <- Seq(false, true); withKey <- Seq(true, false)) {
        val df = overlapJoin(a, b, withKey, strict)
        assert(df.collect().map(_.toSeq).toSet ==
          stockResult(a, b, withKey, strict), s"strict=$strict key=$withKey")
      }
      a.unpersist(); b.unpersist()
    }
  }

  test("right outer / left outer / semi / anti join types match stock") {
    // probe-side variants — beyond the reference's Inner-only support
    val rnd = new scala.util.Random(17)
    def table(n: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(800)
      (s"chr${rnd.nextInt(3)}", s, s + rnd.nextInt(80))
    }.toDF("contig", "pos_start", "pos_end")
    val a = table(250).cache()
    val b = table(250).cache()
    a.count(); b.count()
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"), $"pos_end".as("be"))
    val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"
    for (jt <- Seq("right_outer", "left_outer", "left_semi", "left_anti")) {
      val df = al.join(bl, cond, jt)
      assert(planOf(df).contains("IntervalJoinExec"), s"$jt plan:\n${planOf(df)}")
      val got = df.collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "false")
      val exp = al.join(bl, cond, jt).collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "true")
      assert(got == exp, s"join type $jt")
    }
    // partitioned mode too
    pinMode("partitioned")
    for (jt <- Seq("right_outer", "left_semi", "left_anti")) {
      val df = al.join(bl, cond, jt)
      assert(planOf(df).contains("IntervalJoinExec"))
      val got = df.collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "false")
      val exp = al.join(bl, cond, jt).collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.PreferIntervalJoin, "true")
      assert(got == exp, s"partitioned join type $jt")
    }
    a.unpersist(); b.unpersist()
  }

  test("full outer join matches stock, incl. NULL keys/bounds") {
    val rnd = new scala.util.Random(23)
    def rows(n: Int) = (0 until n).map { i =>
      // sprinkle NULL keys and bounds — they must surface NULL-padded
      val s = rnd.nextInt(500)
      (if (i % 17 == 0) null else s"chr${rnd.nextInt(3)}",
       if (i % 23 == 0) null else Integer.valueOf(s),
       Integer.valueOf(s + rnd.nextInt(60)))
    }
    val a = rows(200).toDF("ac", "as_", "ae").cache()
    val b = rows(200).toDF("bc", "bs", "be").cache()
    a.count(); b.count()
    val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val df = a.join(b, cond, "full_outer")
    assert(planOf(df).contains("IntervalJoinExec"),
      s"full_outer plan:\n${planOf(df)}")
    val got = multiset(df)
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = multiset(a.join(b, cond, "full_outer"))
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    // residual predicate variant: unmatched definition includes the residual
    val cond2 = cond && ($"ae" - $"bs" > 5)
    val got2 = multiset(a.join(b, cond2, "full_outer"))
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp2 = multiset(a.join(b, cond2, "full_outer"))
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got2 == exp2, "full outer with residual")
    a.unpersist(); b.unpersist()
  }

  test("oversized build side fails with the clean GRAFT error, not OOM") {
    // mirrors the reference's build-side memory reservation failure
    // (interval_join.rs:627-660): capped build → clean error in both modes
    spark.conf.set(GraftSession.MaxBuildBytes, "1024")
    try {
      for (mode <- Seq("broadcast", "partitioned")) {
        pinMode(mode)
        val df = overlapJoin(reads, targets)
        assertUsesIntervalJoin(df)
        // collect(), not count(): COUNT(*) is rewritten to the count
        // pushdown whose build (ints only) stays under the cap
        val ex = intercept[Exception] { df.collect() }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ messages(t.getCause)
        assert(messages(ex).exists(_.contains("[GRAFT_INTERVAL_JOIN]")),
          s"mode=$mode got: ${messages(ex).mkString(" | ")}")
      }
    } finally spark.conf.set(GraftSession.MaxBuildBytes, "0")
  }

  test("join metrics report build rows/keys/memory and probe rows") {
    val df = overlapJoin(reads, targets)
    assertUsesIntervalJoin(df)
    assert(df.collect().length == 16)
    val node = df.queryExecution.executedPlan.collectFirst {
      case j: graft.plans.IntervalJoinExec => j
    }.get
    assert(node.metrics("buildRows").value == 12)
    assert(node.metrics("buildKeys").value == 2)
    assert(node.metrics("buildMemUsed").value > 0)
    assert(node.metrics("probeRows").value == 10)
    assert(node.metrics("numOutputRows").value == 16)
    assert(node.metrics("probeTime").value >= 0)
  }

  test("interpreted and generated joins report the same metrics, both modes") {
    for (m <- Seq("broadcast", "partitioned")) {
      pinMode(m)
      // (answer, metrics) with whole-stage codegen on or off
      def run(wholeStage: Boolean) = {
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
        val df = overlapJoin(targets, reads)
        val got = df.collect().map(_.toSeq).toSet
        assert("""\*\(\d+\) IntervalJoinExec""".r.findFirstIn(planOf(df))
          .isDefined == wholeStage, s"mode=$m wholeStage=$wholeStage:\n${planOf(df)}")
        val node = collectFirst(df.queryExecution.executedPlan) {
          case j: IntervalJoinExec => j
        }.get
        (got, Seq("numOutputRows", "probeRows", "buildRows")
          .map(k => k -> node.metrics(k).value).toMap)
      }
      try {
        val interpreted = run(wholeStage = false)
        assert(interpreted._1 == stockResult(targets, reads, withKey = true),
          s"mode=$m")
        assert(interpreted._2 ==
          Map("numOutputRows" -> 16, "probeRows" -> 12, "buildRows" -> 10),
          s"mode=$m")
        assert(run(wholeStage = true) == interpreted, s"mode=$m")
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("every join type runs the pinned algorithm and matches stock") {
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "lapper")
    val rnd = new scala.util.Random(29)
    def table(n: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(800)
      (s"chr${rnd.nextInt(3)}", s, s + rnd.nextInt(80))
    }.toDF("contig", "pos_start", "pos_end")
    val al = table(200).select($"contig".as("ac"), $"pos_start".as("as_"),
      $"pos_end".as("ae")).cache()
    val bl = table(200).select($"contig".as("bc"), $"pos_start".as("bs"),
      $"pos_end".as("be")).cache()
    al.createOrReplaceTempView("alg_a")
    bl.createOrReplaceTempView("alg_b")
    val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"
    // the OR keeps EXISTS from becoming a semi join → ExistenceJoin (Mark)
    val markSql =
      """SELECT ac, as_, ae FROM alg_a WHERE as_ = 0 OR EXISTS (
        |  SELECT 1 FROM alg_b WHERE bc = ac AND as_ <= be AND ae >= bs)""".stripMargin
    def multiset(df: DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val joins: Seq[(String, () => DataFrame)] =
      Seq("inner", "right_outer", "left_outer", "left_semi", "left_anti",
        "full_outer").map(jt => jt -> (() => al.join(bl, cond, jt))) :+
        ("mark" -> (() => spark.sql(markSql)))
    for ((jt, df) <- joins) {
      val plan = planOf(df())
      assert(plan.contains("IntervalJoinExec") && plan.contains("alg=lapper"),
        s"$jt plan:\n$plan")
      val got = multiset(df())
      spark.conf.set(GraftSession.PreferIntervalJoin, "false")
      val exp = multiset(df())
      spark.conf.set(GraftSession.PreferIntervalJoin, "true")
      assert(got == exp, s"join type $jt")
    }
    al.unpersist(); bl.unpersist()
  }

  test("existence (mark) join: EXISTS under a disjunction matches stock") {
    reads.createOrReplaceTempView("m_reads")
    targets.createOrReplaceTempView("m_targets")
    // the OR prevents the semi-join rewrite → Spark plans ExistenceJoin
    val sql =
      """SELECT r.contig, r.pos_start, r.pos_end FROM m_reads r
        |WHERE r.pos_start = 15000 OR EXISTS (
        |  SELECT 1 FROM m_targets t WHERE t.contig = r.contig
        |    AND t.pos_start <= r.pos_end AND t.pos_end >= r.pos_start)""".stripMargin
    val df = spark.sql(sql)
    assert(planOf(df).contains("join_type=Mark"), s"plan:\n${planOf(df)}")
    val got = df.collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = spark.sql(sql).collect().map(_.toSeq).toSet
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    // partitioned mode too
    pinMode("partitioned")
    val gotP = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(gotP == exp, "partitioned mark join")
  }

  test("non-pushable filter fused above the join (codegen continue safety)") {
    // rand() can't push into the join condition, so FilterExec fuses
    // ABOVE the join inside the same codegen stage — its generated continue
    // must not break the inlined match loop
    val df = overlapJoin(reads, targets).where(rand(7) >= -1.0)
    assertUsesIntervalJoin(df)
    assert(df.count() == 16)
    pinMode("partitioned")
    assert(overlapJoin(reads, targets).where(rand(7) >= -1.0).count() == 16)
  }

  test("probe-side ordering survives the join: downstream sort elided") {
    val al = targets.select($"contig".as("ac"), $"pos_start".as("as_"),
      $"pos_end".as("ae"))
    val bl = reads.select($"contig".as("bc"), $"pos_start".as("bs"),
      $"pos_end".as("be")).sortWithinPartitions("bs")
    val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"
    val df = al.join(bl, cond).sortWithinPartitions("bs")
    assertUsesIntervalJoin(df)
    // the pre-join sort satisfies the post-join one → exactly one SortExec
    val sorts = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.length == 1, s"plan:\n${planOf(df)}")
    assert(df.count() == 16)
  }

  test("user join hints steer mode selection") {
    // the build side is tiny so the default would be broadcast; a
    // SHUFFLE_HASH hint on it must force the partitioned path, and a
    // BROADCAST hint must hold even when stats would say partitioned
    val al = targets.select($"contig".as("ac"), $"pos_start".as("as_"),
      $"pos_end".as("ae"))
    val bl = reads.select($"contig".as("bc"), $"pos_start".as("bs"),
      $"pos_end".as("be"))
    val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"
    val shuffled = al.hint("shuffle_hash").join(bl, cond)
    assert(planOf(shuffled).contains("mode=Partitioned"),
      s"plan:\n${planOf(shuffled)}")
    assert(shuffled.collect().length == 16)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bcast = al.hint("broadcast").join(bl, cond)
      assert(planOf(bcast).contains("mode=CollectLeft"),
        s"plan:\n${planOf(bcast)}")
      assert(bcast.collect().length == 16)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
  }

  test("EXPLAIN shape matches the reference plan format") {
    // port of the reference's plan assertion (integration_test.rs:108-112):
    // "IntervalJoinExec: mode=CollectLeft, join_type=Inner,
    //  on=[(contig@0, contig@0)], filter=pos_start@0 <= pos_end@3 AND
    //  pos_end@1 >= pos_start@2, alg=..." — same shape here, with Spark
    // expr-ids (contig#N) in place of DataFusion ordinals (contig@N)
    val plan = planOf(overlapJoin(targets, reads))
    assert(plan.contains("IntervalJoinExec: mode=CollectLeft, join_type=Inner, on=[(a_contig"),
      s"plan:\n$plan")
    assert(plan.contains("filter="), s"plan:\n$plan")
    assert(plan.contains("alg=superintervals"), s"plan:\n$plan")
    pinMode("partitioned")
    val p2 = planOf(overlapJoin(targets, reads))
    assert(p2.contains("IntervalJoinExec: mode=Partitioned, join_type=Inner"),
      s"plan:\n$p2")
  }

  test("projection variants through the join (reference smoke tests)") {
    // reference: interval_join.rs:1814-1843 — *, left-only, right-only,
    // mixed projections must all work through the custom operator
    val al = targets.select($"contig".as("a_contig"),
      $"pos_start".as("a_start"), $"pos_end".as("a_end"))
    val bl = reads.select($"contig".as("b_contig"),
      $"pos_start".as("b_start"), $"pos_end".as("b_end"))
    val df = al.join(bl, $"a_contig" === $"b_contig" &&
      $"a_start" <= $"b_end" && $"a_end" >= $"b_start")
    assert(df.select("*").count() == 16)
    assert(df.select($"a_contig", $"a_start").distinct().count() > 0)
    assert(df.select($"b_start", $"b_end").count() == 16)
    val mixed = df.select($"a_contig", $"b_start", ($"a_end" - $"b_start").as("d"))
    assertUsesIntervalJoin(mixed)
    assert(mixed.count() == 16)
  }

  test("residual predicate is applied on top of the interval match") {
    // cross-side non-range conjunct → must survive as a post-match filter
    val al = targets.select($"contig".as("a_contig"),
      $"pos_start".as("a_start"), $"pos_end".as("a_end"))
    val bl = reads.select($"contig".as("b_contig"),
      $"pos_start".as("b_start"), $"pos_end".as("b_end"))
    val df = al.join(bl, $"a_contig" === $"b_contig" &&
      $"a_start" <= $"b_end" && $"a_end" >= $"b_start" &&
      ($"a_start" + $"b_start") % 2 === 0)
    assertUsesIntervalJoin(df)
    val stock = stockResult(targets, reads, withKey = true).filter { r =>
      (r(1).asInstanceOf[Int] + r(4).asInstanceOf[Int]) % 2 == 0
    }
    assert(df.collect().map(_.toSeq).toSet == stock)
  }
}
