package graft

import graft.operators.NearestJoin
import org.apache.spark.sql.DataFrame

/** The interval planner's one distribution-mode rule
  * (`IntervalJoinStrategy.modeFor`), per join type: the broadcast
  * threshold picks the mode, and a BROADCAST hint on the build side
  * overrides a threshold that rules broadcast out. The build side is the
  * left child for Inner and RightOuter, the right child for LeftOuter,
  * LeftSemi, LeftAnti and the existence (mark) join. FULL OUTER runs
  * partitioned under every setting. */
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

  /** The `mode=` of the plan's interval-join line. */
  private def modeOf(df: DataFrame): String =
    "IntervalJoinExec: mode=(\\w+)".r.findFirstMatchIn(planOf(df))
      .map(_.group(1)).getOrElse(fail(s"no IntervalJoinExec:\n${planOf(df)}"))

  /** join type → build side is the left child */
  private val joinTypes = Seq("inner" -> true, "right_outer" -> true,
    "left_outer" -> false, "left_semi" -> false, "left_anti" -> false)

  /** (`pinMode` setting: default threshold or -1, the build side carries
    * a BROADCAST hint, expected mode) */
  private val settings = Seq(
    ("broadcast", false, "CollectLeft"),
    ("partitioned", false, "Partitioned"),
    ("partitioned", true, "CollectLeft"))

  test("every join type takes its mode from the threshold and its build hint") {
    for ((jt, buildLeft) <- joinTypes; (pin, hinted, expected) <- settings) {
      pinMode(pin)
      def hint(df: DataFrame, build: Boolean) =
        if (hinted && build) df.hint("broadcast") else df
      val df = hint(a, buildLeft).join(hint(b, !buildLeft), keyed, jt)
      assert(modeOf(df) == expected, s"$jt under $pin hinted=$hinted")
    }
  }

  test("the existence (mark) join reads the hint on its subquery side") {
    a.createOrReplaceTempView("mode_a")
    b.createOrReplaceTempView("mode_b")
    // the OR keeps EXISTS from becoming a semi join → ExistenceJoin
    def sql(hinted: Boolean) =
      s"""SELECT a_c, a_s, a_e FROM mode_a
         |WHERE a_s = 0 OR EXISTS (
         |  SELECT ${if (hinted) "/*+ BROADCAST(mode_b) */" else ""} 1
         |  FROM mode_b WHERE b_c = a_c AND a_s <= b_e AND a_e >= b_s)""".stripMargin
    for ((pin, hinted, expected) <- settings) {
      pinMode(pin)
      val df = spark.sql(sql(hinted))
      assert(planOf(df).contains("join_type=Mark"), planOf(df))
      assert(modeOf(df) == expected, s"mark under $pin hinted=$hinted")
    }
  }

  test("FULL OUTER is partitioned under every setting") {
    for ((pin, hinted, _) <- settings) {
      pinMode(pin)
      val df = (if (hinted) a.hint("broadcast") else a).join(b, keyed, "full_outer")
      assert(modeOf(df) == "Partitioned", s"full_outer under $pin hinted=$hinted")
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
