package graft

import graft.operators.BinnedIntervalJoin

import org.apache.spark.sql.DataFrame

/** Binned (skew-proof) overlap join ≡ the plain overlap join, including
  * intervals spanning many bins and hot keys. */
class BinnedIntervalJoinSpec extends SparkTestBase {

  import spark.implicits._

  private def randomTable(seed: Int, n: Int, hot: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val contig = if (hot && i % 10 != 0) "chrHOT" else s"chr${rnd.nextInt(3)}"
      val s = rnd.nextInt(5000)
      (contig, s, s + rnd.nextInt(800)) // spans up to 9 bins at binSize=100
    }.toDF("contig", "pos_start", "pos_end")
  }

  private def plainJoin(a: DataFrame, b: DataFrame, withKey: Boolean): Set[Seq[Any]] = {
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"), $"pos_end".as("be"))
    val range = $"as_" <= $"be" && $"ae" >= $"bs"
    al.join(bl, if (withKey) $"ac" === $"bc" && range else range)
      .collect().map(_.toSeq).toSet
  }

  private def binnedJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      binSize: Int): Set[Seq[Any]] = {
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"), $"pos_end".as("be"))
    // rename-free variant: binned join with keys expressed on both sides
    val df = BinnedIntervalJoin.join(
      al.withColumnRenamed("ac", "k"), bl.withColumnRenamed("bc", "k"),
      if (keys.nonEmpty) Seq("k") else Nil, "as_", "ae", "bs", "be", binSize)
    df.collect().map(_.toSeq).toSet
  }

  test("binned ≡ plain on hot-key data, partitioned mode, binSize=100") {
    pinMode("partitioned")
    val a = randomTable(1, 500, hot = true).cache()
    val b = randomTable(2, 500, hot = true).cache()
    a.count(); b.count()
    val exp = plainJoin(a, b, withKey = true)
      .map { r => Seq(r(0), r(1), r(2), r(3), r(4), r(5)) }
    val got = binnedJoin(a, b, Seq("contig"), 100)
    // binned output: k, as_, ae, k, bs, be — same values
    assert(got.size == exp.size)
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  test("binned ≡ plain keyless, spanning bins, binSize=64") {
    val a = randomTable(3, 200, hot = false).drop("contig")
      .toDF("pos_start", "pos_end").cache()
    val b = randomTable(4, 200, hot = false).drop("contig")
      .toDF("pos_start", "pos_end").cache()
    a.count(); b.count()
    val al = a.select($"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"pos_start".as("bs"), $"pos_end".as("be"))
    val exp = al.join(bl, $"as_" <= $"be" && $"ae" >= $"bs")
      .collect().map(_.toSeq).toSet
    val got = BinnedIntervalJoin.join(al, bl, Nil, "as_", "ae", "bs", "be", 64)
      .collect().map(_.toSeq).toSet
    assert(got == exp)
    a.unpersist(); b.unpersist()
  }

  private def overlapDf(a: DataFrame, b: DataFrame, withKey: Boolean = true) = {
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"), $"pos_end".as("be"))
    val range = $"as_" <= $"be" && $"ae" >= $"bs"
    al.join(bl, if (withKey) $"ac" === $"bc" && range else range)
  }

  test("autoBin=force rewrites a plain join to the binned form, same result") {
    spark.conf.set(GraftSession.AutoBin, "force")
    spark.conf.set(GraftSession.BinSize, "100")
    pinMode("partitioned")
    try {
      val a = randomTable(5, 400, hot = true).cache()
      val b = randomTable(6, 400, hot = true).cache()
      a.count(); b.count()
      val df = overlapDf(a, b)
      val got = df.collect().map(_.toSeq).toSet
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bin"), plan)
      assert(plan.contains("IntervalJoinExec"), plan)
      spark.conf.set(GraftSession.AutoBin, "off")
      val exp = overlapDf(a, b).collect().map(_.toSeq).toSet
      assert(got == exp)
      a.unpersist(); b.unpersist()
    } finally spark.conf.set(GraftSession.AutoBin, "auto")
  }

  test("binned partitioned join spreads ONE hot key over multiple tasks") {
    spark.conf.set(GraftSession.AutoBin, "force")
    spark.conf.set(GraftSession.BinSize, "100")
    pinMode("partitioned")
    // AQE would coalesce this tiny shuffle back to one partition; the
    // assertion is about the partitioning KEY space, so pin it off
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // every row shares a single key: unbinned hash clustering would put
      // ALL probe work in one task
      val a = randomTable(7, 300, hot = true)
        .withColumn("contig", org.apache.spark.sql.functions.lit("chrHOT")).cache()
      val b = randomTable(8, 300, hot = true)
        .withColumn("contig", org.apache.spark.sql.functions.lit("chrHOT")).cache()
      a.count(); b.count()
      val binned = overlapDf(a, b)
      val busyBinned = binned.rdd
        .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0)).sum()
      assert(busyBinned > 1,
        s"expected the hot key spread over >1 task, got $busyBinned")
      spark.conf.set(GraftSession.AutoBin, "off")
      val exp = overlapDf(a, b).collect().map(_.toSeq).toSet
      spark.conf.set(GraftSession.AutoBin, "force")
      assert(binned.collect().map(_.toSeq).toSet == exp)
      a.unpersist(); b.unpersist()
    } finally {
      spark.conf.set(GraftSession.AutoBin, "auto")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
  }

  test("autoBin=auto bins a keyless join that exceeds the broadcast threshold") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(GraftSession.AutoBin, "auto")
    spark.conf.set(GraftSession.BinSize, "100")
    try {
      val a = randomTable(9, 150, hot = false).cache()
      val b = randomTable(10, 150, hot = false).cache()
      a.count(); b.count()
      val exp = overlapDf(a, b, withKey = false).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val df = overlapDf(a, b, withKey = false)
      val plan = df.queryExecution.executedPlan.toString
      // previously this shape was declined entirely (stock BNLJ at scale)
      assert(plan.contains("__graft_bin"), plan)
      assert(plan.contains("IntervalJoinExec"), plan)
      assert(df.collect().map(_.toSeq).toSet == exp)
      a.unpersist(); b.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("autoBin=auto leaves a BROADCAST-hinted keyless build unbinned") {
    spark.conf.set(GraftSession.AutoBin, "auto")
    spark.conf.set(GraftSession.BinSize, "100")
    val a = randomTable(13, 150, hot = false).cache()
    val b = randomTable(14, 150, hot = false).cache()
    a.count(); b.count()
    val exp = overlapDf(a, b, withKey = false).collect().map(_.toSeq).toSet
    pinMode("partitioned")
    val al = a.select($"contig".as("ac"), $"pos_start".as("as_"), $"pos_end".as("ae"))
    val bl = b.select($"contig".as("bc"), $"pos_start".as("bs"), $"pos_end".as("be"))
    val df = al.hint("broadcast").join(bl, $"as_" <= $"be" && $"ae" >= $"bs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bin"), plan)
    assert(plan.contains("IntervalJoinExec: mode=CollectLeft"), plan)
    assert(df.collect().map(_.toSeq).toSet == exp)
    a.unpersist(); b.unpersist()
  }

  test("autoBin=auto bins a keyed join when column stats show low key NDV") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(GraftSession.AutoBin, "auto")
    spark.conf.set(GraftSession.BinSize, "100")
    try {
      val rnd = new scala.util.Random(11)
      val rows = (0 until 400).map { i =>
        val s = rnd.nextInt(5000)
        (if (i % 5 == 0) "chrX" else "chrHOT", s, s + rnd.nextInt(800))
      }
      rows.toDF("contig", "pos_start", "pos_end")
        .write.mode("overwrite").saveAsTable("graft_skew_a")
      rows.reverse.toDF("contig", "pos_start", "pos_end")
        .write.mode("overwrite").saveAsTable("graft_skew_b")
      spark.sql("ANALYZE TABLE graft_skew_a COMPUTE STATISTICS FOR COLUMNS contig")
      spark.sql("ANALYZE TABLE graft_skew_b COMPUTE STATISTICS FOR COLUMNS contig")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val a = spark.table("graft_skew_a")
      val b = spark.table("graft_skew_b")
      val exp = overlapDf(a, b).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val df = overlapDf(a, b)
      val plan = df.queryExecution.executedPlan.toString
      // NDV(contig)=2 < 4 shuffle partitions → binned automatically
      assert(plan.contains("__graft_bin"), plan)
      assert(df.collect().map(_.toSeq).toSet == exp)
      // high-NDV guard: without stats-below-parallelism, no rewrite
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val plain = overlapDf(a, b)
      assert(!plain.queryExecution.executedPlan.toString.contains("__graft_bin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS graft_skew_a")
      spark.sql("DROP TABLE IF EXISTS graft_skew_b")
    }
  }

  test("open-ended sentinel interval fails with a clear error, not an OOM") {
    // one end = Long.MaxValue row would ask explode(sequence(...)) for
    // ~9e12 bins and kill the job; the guard raises instead
    val a = Seq(("c", 0L, Long.MaxValue)).toDF("contig", "s", "e")
    val b = Seq(("c", 5L, 10L)).toDF("contig", "s", "e")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    def assertGuarded(df: => DataFrame): Unit = {
      val ex = intercept[Exception](df.collect())
      assert(msgs(ex).exists(m => m != null && m.contains("raise binSize")),
        s"got: ${msgs(ex)}")
    }
    assertGuarded(graft.operators.BinnedIntervalJoin
      .join(a, b, Seq("contig"), "s", "e", "s", "e", binSize = 1000000))
    // the planner rule's explosion carries the same guard
    spark.conf.set(GraftSession.AutoBin, "force")
    try assertGuarded(a.join(b, a("contig") === b("contig") &&
      a("s") <= b("e") && a("e") >= b("s")))
    finally spark.conf.set(GraftSession.AutoBin, "auto")
  }

  test("binned join plans through IntervalJoinExec with bin equi-key") {
    val a = Seq(("c1", 1, 250)).toDF("k", "s", "e")
    val b = Seq(("c1", 200, 260)).toDF("k", "s2", "e2")
    val df = BinnedIntervalJoin.join(a, b, Seq("k"), "s", "e", "s2", "e2", 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoinExec"), plan)
    assert(df.count() == 1) // pair overlaps in bin 2 only once
  }
}
