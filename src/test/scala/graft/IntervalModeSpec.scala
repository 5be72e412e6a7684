package graft

import graft.operators.NearestJoin
import org.apache.spark.sql.DataFrame

/** The interval planner's one distribution-mode rule
  * (`IntervalJoinStrategy.modeFor`), per join type and for the COUNT(*)
  * pushdown: the broadcast threshold picks the mode, a BROADCAST hint on
  * the build side overrides a threshold that rules broadcast out, and a
  * SHUFFLE_HASH hint partitions a keyed join the threshold would
  * broadcast. The build side is the left child for Inner, RightOuter and
  * the count, the right child for LeftOuter, LeftSemi, LeftAnti and the
  * existence (mark) join. FULL OUTER runs partitioned under every
  * setting. */
class IntervalModeSpec extends SparkTestBase {

  import spark.implicits._

  private def side(p: String, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until 60).map { _ =>
      val s = rnd.nextInt(1000)
      (s"chr${rnd.nextInt(3)}", s, s + rnd.nextInt(80))
    }.toDF(s"${p}_c", s"${p}_s", s"${p}_e")
  }

  private lazy val a = side("a", 1)
  private lazy val b = side("b", 2)
  private val range = $"a_s" <= $"b_e" && $"a_e" >= $"b_s"
  private val keyed = $"a_c" === $"b_c" && range

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The `mode=` of the plan's interval-join (or count) line. */
  private def modeOf(df: DataFrame, node: String = "IntervalJoinExec"): String =
    s"$node: mode=(\\w+)".r.findFirstMatchIn(planOf(df))
      .map(_.group(1)).getOrElse(fail(s"no $node:\n${planOf(df)}"))

  /** join type → build side is the left child */
  private val joinTypes = Seq("inner" -> true, "right_outer" -> true,
    "left_outer" -> false, "left_semi" -> false, "left_anti" -> false)

  /** (`pinMode` setting: default threshold or -1, the build side's hint,
    * expected mode) */
  private val settings = Seq(
    ("broadcast", None, "CollectLeft"),
    ("partitioned", None, "Partitioned"),
    ("partitioned", Some("broadcast"), "CollectLeft"),
    ("broadcast", Some("shuffle_hash"), "Partitioned"))

  private def hinted(df: DataFrame, hint: Option[String]): DataFrame =
    hint.fold(df)(df.hint(_))

  test("every join type takes its mode from the threshold and its build hint") {
    for ((jt, buildLeft) <- joinTypes; (pin, hint, expected) <- settings) {
      pinMode(pin)
      def side(df: DataFrame, build: Boolean) =
        if (build) hinted(df, hint) else df
      val df = side(a, buildLeft).join(side(b, !buildLeft), keyed, jt)
      assert(modeOf(df) == expected, s"$jt under $pin hint=$hint")
    }
  }

  test("the COUNT(*) pushdown takes its mode from the threshold and its build hint") {
    spark.conf.set(GraftSession.PreferIntervalJoin, "false")
    val exp = a.join(b, keyed).count()
    spark.conf.set(GraftSession.PreferIntervalJoin, "true")
    for ((pin, hint, expected) <- settings) {
      pinMode(pin)
      val df = hinted(a, hint).join(b, keyed).groupBy().count()
      assert(modeOf(df, "IntervalCountExec") == expected,
        s"count under $pin hint=$hint")
      assert(df.collect().head.getLong(0) == exp, s"count under $pin hint=$hint")
    }
  }

  test("the existence (mark) join reads the hint on its subquery side") {
    a.createOrReplaceTempView("mode_a")
    b.createOrReplaceTempView("mode_b")
    // the OR keeps EXISTS from becoming a semi join → ExistenceJoin
    def sql(hint: Option[String]) =
      s"""SELECT a_c, a_s, a_e FROM mode_a
         |WHERE a_s = 0 OR EXISTS (
         |  SELECT ${hint.fold("")(h => s"/*+ ${h.toUpperCase}(mode_b) */")} 1
         |  FROM mode_b WHERE b_c = a_c AND a_s <= b_e AND a_e >= b_s)""".stripMargin
    for ((pin, hint, expected) <- settings) {
      pinMode(pin)
      val df = spark.sql(sql(hint))
      assert(planOf(df).contains("join_type=Mark"), planOf(df))
      assert(modeOf(df) == expected, s"mark under $pin hint=$hint")
    }
  }

  test("FULL OUTER is partitioned under every setting") {
    for ((pin, hint, _) <- settings) {
      pinMode(pin)
      val df = hinted(a, hint).join(b, keyed, "full_outer")
      assert(modeOf(df) == "Partitioned", s"full_outer under $pin hint=$hint")
    }
  }

  test("a keyless build over the threshold: joins decline, NearestJoin broadcasts") {
    spark.conf.set(GraftSession.AutoBin, "off")
    pinMode("partitioned")
    try {
      for (jt <- Seq("inner", "left_semi")) {
        val df = a.join(b, range, jt)
        assert(!planOf(df).contains("IntervalJoinExec"), s"$jt:\n${planOf(df)}")
        spark.conf.set(GraftSession.PreferIntervalJoin, "false")
        val exp = a.join(b, range, jt).collect().map(_.toSeq).toSet
        spark.conf.set(GraftSession.PreferIntervalJoin, "true")
        assert(df.collect().map(_.toSeq).toSet == exp, jt)
      }
      // the explicit node has no stock plan to fall back to
      assert(modeOf(NearestJoin(a, b, a("a_s") <= b("b_e") &&
        a("a_e") >= b("b_s"))) == "CollectLeft")
    } finally spark.conf.set(GraftSession.AutoBin, "auto")
  }
}
