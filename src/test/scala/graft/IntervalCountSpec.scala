package graft

import graft.plans.IntervalCountExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Tests of the COUNT(*) aggregate pushdown (IntervalCountRewrite →
  * IntervalCountExec): equivalence with the stock plan, grouped variants,
  * and plan-shape assertions. */
class IntervalCountSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    spark.conf.set(GraftSession.IntervalJoinAlgorithm, "superintervals")
  }

  private def randomTable(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val s = rnd.nextInt(1000)
      (s"chr${rnd.nextInt(4)}", s, s + rnd.nextInt(100))
    }.toDF("contig", "pos_start", "pos_end")
  }

  private def joined(a: DataFrame, b: DataFrame, withKey: Boolean = true,
      strict: Boolean = false): DataFrame = {
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"),
      $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"),
      $"pos_end".as("be"))
    val range = if (strict) $"as_" < $"be" && $"ae" > $"bs"
                else $"as_" <= $"be" && $"ae" >= $"bs"
    al.join(bl, if (withKey) $"ac" === $"bc" && range else range)
  }

  private def stockCount(df: => DataFrame): Long = {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val c = df.count()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    c
  }

  test("global count uses IntervalCountExec and matches stock") {
    val a = randomTable(1, 500)
    val b = randomTable(2, 500)
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy().count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    assert(df.head().getLong(0) == stockCount(joined(a, b)))
    a.unpersist(); b.unpersist()
  }

  test("global count runs inside whole-stage codegen (both modes)") {
    // a codegen bug must fail loudly, not silently fall back
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (m <- Seq("broadcast", "partitioned")) {
        pinMode(m)
        val a = randomTable(7, 400)
        val b = randomTable(8, 400)
        a.cache().count(); b.cache().count()
        val df = joined(a, b).groupBy().count()
        // collect() (not head(), which runs a separate limited plan) so
        // THIS dataset's AQE plan executes and finalizes
        assert(df.collect().head.getLong(0) == stockCount(joined(a, b)),
          s"mode=$m")
        val plan = df.queryExecution.executedPlan.toString
        assert("""\*\(\d+\) IntervalCountExec""".r.findFirstIn(plan).isDefined,
          s"mode=$m expected fused IntervalCountExec:\n$plan")
        a.unpersist(); b.unpersist()
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("grouped count runs inside whole-stage codegen (both modes)") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (m <- Seq("broadcast", "partitioned")) {
        pinMode(m)
        val a = randomTable(25, 400)
        val b = randomTable(26, 400)
        a.cache().count(); b.cache().count()
        val df = joined(a, b).groupBy($"ac").count()
        val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        spark.conf.set(GraftSession.PreferIntervalJoin, "false")
        val exp = joined(a, b).groupBy($"ac").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        spark.conf.set(GraftSession.PreferIntervalJoin, "true")
        assert(got == exp, s"mode=$m")
        val plan = df.queryExecution.executedPlan.toString
        assert("""\*\(\d+\) IntervalCountExec""".r.findFirstIn(plan).isDefined,
          s"mode=$m expected fused grouped IntervalCountExec:\n$plan")
        a.unpersist(); b.unpersist()
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("interpreted count (wholeStage off) ≡ stock, same metrics as codegen") {
    val a = randomTable(29, 400)
    val b = randomTable(30, 400)
    a.cache().count(); b.cache().count()
    try {
      for (m <- Seq("broadcast", "partitioned"); grouped <- Seq(false, true)) {
        pinMode(m)
        def count(): DataFrame =
          if (grouped) joined(a, b).groupBy($"ac").count()
          else joined(a, b).groupBy().count()
        def rows(df: DataFrame) = df.collect()
          .map(r => (if (grouped) r.getString(0) else "") -> r.getLong(r.length - 1))
          .toMap
        // (answer, pairCount, buildKeys) with whole-stage codegen on or off
        def run(wholeStage: Boolean) = {
          spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
          val df = count()
          val got = rows(df)
          val plan = df.queryExecution.executedPlan.toString
          assert("""\*\(\d+\) IntervalCountExec""".r.findFirstIn(plan)
            .isDefined == wholeStage, s"mode=$m wholeStage=$wholeStage:\n$plan")
          val node = collectFirst(df.queryExecution.executedPlan) {
            case c: IntervalCountExec => c
          }.get
          (got, node.metrics("pairCount").value, node.metrics("buildKeys").value)
        }
        val interpreted = run(wholeStage = false)
        val generated = run(wholeStage = true)
        spark.conf.set(GraftSession.PreferIntervalJoin, "false")
        val exp = rows(count())
        spark.conf.set(GraftSession.PreferIntervalJoin, "true")
        val what = s"mode=$m grouped=$grouped"
        assert(interpreted._1 == exp, what)
        assert(generated == interpreted, what)
      }
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      a.unpersist(); b.unpersist()
    }
  }

  test("strict-op count matches stock") {
    val a = randomTable(3, 400)
    val b = randomTable(4, 400)
    a.cache().count(); b.cache().count()
    val df = joined(a, b, strict = true).groupBy().count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    assert(df.head().getLong(0) == stockCount(joined(a, b, strict = true)))
    a.unpersist(); b.unpersist()
  }

  test("keyless count matches stock") {
    val a = randomTable(5, 150)
    val b = randomTable(6, 150)
    a.cache().count(); b.cache().count()
    val df = joined(a, b, withKey = false).groupBy().count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    assert(df.head().getLong(0) == stockCount(joined(a, b, withKey = false)))
    a.unpersist(); b.unpersist()
  }

  test("grouped count by left-side key matches stock (incl. empty groups)") {
    // chr9 exists only in a — its group must not appear (inner join)
    val a = randomTable(7, 300).union(Seq(("chr9", 1, 2)).toDF())
    val b = randomTable(8, 300)
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy($"ac").count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = joined(a, b).groupBy($"ac").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    assert(!got.contains("chr9"))
    a.unpersist(); b.unpersist()
  }

  test("grouped count by right-side key matches stock") {
    val a = randomTable(9, 300)
    val b = randomTable(10, 300)
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy($"bc").count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = joined(a, b).groupBy($"bc").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  test("count over empty result is 0") {
    val a = Seq(("c1", 1, 2)).toDF("contig", "pos_start", "pos_end")
    val b = Seq(("c1", 10, 20)).toDF("contig", "pos_start", "pos_end")
    assert(joined(a, b).count() == 0L)
  }

  test("grouping by a non-key column does not rewrite") {
    val a = randomTable(11, 50)
    val b = randomTable(12, 50)
    val df = joined(a, b).groupBy($"as_").count()
    assert(!df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
  }

  test("NULL keys excluded from count") {
    val a = Seq((Some("c1"), 1, 10), (None, 1, 10))
      .toDF("contig", "pos_start", "pos_end")
    val b = Seq((Some("c1"), 5, 6), (None, 5, 6))
      .toDF("contig", "pos_start", "pos_end")
    assert(joined(a, b).count() == 1L)
  }

  test("partitioned mode count matches") {
    pinMode("partitioned")
    val a = randomTable(13, 400)
    val b = randomTable(14, 400)
    a.cache().count(); b.cache().count()
    val got = joined(a, b).count()
    assert(got == stockCount(joined(a, b)))
    a.unpersist(); b.unpersist()
  }

  test("count build records buildRows and buildTime (both modes)") {
    // local rows are never kept across queries, so every run builds; the
    // NULL-key row is never indexed
    val a = Seq((Some("c1"), 1, 10), (Some("c1"), 3, 4), (Some("c2"), 1, 2),
      (None, 1, 10)).toDF("contig", "pos_start", "pos_end")
    val b = Seq((Some("c1"), 5, 6), (Some("c2"), 2, 3))
      .toDF("contig", "pos_start", "pos_end")
    for (m <- Seq("broadcast", "partitioned")) {
      pinMode(m)
      val df = joined(a, b).groupBy().count()
      assert(df.collect().head.getLong(0) == 2L, s"mode=$m")
      val node = collectFirst(df.queryExecution.executedPlan) {
        case c: IntervalCountExec => c
      }.get
      assert(node.metrics("buildRows").value == 3L, s"mode=$m")
      assert(!node.metrics("buildTime").isZero,
        s"mode=$m: the build recorded no build time")
    }
  }

  /** Like randomTable but ~30% of intervals are INVERTED (start > end) —
    * the count pushdown's two-binary-search identity fails on these, so
    * they exercise the guarded slow paths. */
  private def messyTable(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val s = rnd.nextInt(1000)
      val w = rnd.nextInt(100)
      val (lo, hi) = if (rnd.nextInt(10) < 3) (s + w, s) else (s, s + w)
      (s"chr${rnd.nextInt(4)}", lo, hi)
    }.toDF("contig", "pos_start", "pos_end")
  }

  test("inverted build intervals count exactly like the join path") {
    val a = messyTable(17, 400) // build side has start > end rows
    val b = randomTable(18, 400)
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy().count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    assert(df.head().getLong(0) == stockCount(joined(a, b)))
    a.unpersist(); b.unpersist()
  }

  test("inverted probe intervals count exactly like the join path") {
    val a = randomTable(19, 400)
    val b = messyTable(20, 400) // probe side has s > e rows
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy().count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    assert(df.head().getLong(0) == stockCount(joined(a, b)))
    a.unpersist(); b.unpersist()
  }

  test("inverted intervals on both sides, grouped, match stock") {
    val a = messyTable(21, 300)
    val b = messyTable(22, 300)
    a.cache().count(); b.cache().count()
    val df = joined(a, b).groupBy($"ac").count()
    assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = joined(a, b).groupBy($"ac").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  test("keyless count skips rewrite when build side exceeds broadcast threshold") {
    val a = randomTable(23, 200)
    val b = randomTable(24, 200)
    a.cache().count(); b.cache().count()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val df = joined(a, b, withKey = false).groupBy().count()
      // no key to partition on + build side over threshold → no rewrite
      assert(!df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
      assert(df.head().getLong(0) == stockCount(joined(a, b, withKey = false)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      a.unpersist(); b.unpersist()
    }
  }

  test("rewrite disabled with conf off") {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val a = randomTable(15, 50)
    val b = randomTable(16, 50)
    val df = joined(a, b).groupBy().count()
    assert(!df.queryExecution.executedPlan.toString.contains("IntervalCountExec"))
  }

  test("every alias of the default algorithm keeps the count pushdown") {
    val a = randomTable(27, 300)
    val b = randomTable(28, 300)
    a.cache().count(); b.cache().count()
    val exp = stockCount(joined(a, b))
    for (alg <- Seq("default", "COITREES")) {
      spark.conf.set(GraftSession.IntervalJoinAlgorithm, alg)
      val df = joined(a, b).groupBy().count()
      assert(df.queryExecution.executedPlan.toString.contains("IntervalCountExec"),
        s"alg=$alg")
      assert(df.head().getLong(0) == exp, s"alg=$alg")
    }
    a.unpersist(); b.unpersist()
  }
}
