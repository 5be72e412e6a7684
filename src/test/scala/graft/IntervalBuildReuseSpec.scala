package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.plans.{BroadcastBuilds, IntervalBuildProbeExec, IntervalCountExec, IntervalJoinExec}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** A broadcast interval build over cached tables is kept once a second
  * query has the same build, and reused by the queries after, and only
  * then: the key follows the
  * cached RDDs, so unpersisting or re-caching builds again, and builds
  * over uncached, non-deterministic or over-threshold inputs are never
  * kept. */
class IntervalBuildReuseSpec extends SparkTestBase
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private type Iv = (String, Int, Int)

  private def rows(seed: Int, n: Int): Seq[Iv] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val s = rnd.nextInt(2000)
      (s"chr${rnd.nextInt(3)}", s, s + rnd.nextInt(120))
    }
  }

  private def build(r: Seq[Iv]): DataFrame = r.toDF("ac", "as_", "ae")
  private def probe(r: Seq[Iv]): DataFrame = r.toDF("bc", "bs", "be")

  private def cached(df: DataFrame): DataFrame = {
    df.cache().count()
    df
  }

  private val cond = $"ac" === $"bc" && $"as_" <= $"be" && $"ae" >= $"bs"

  private def countDf(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, cond).groupBy().count()

  private def joinDf(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, cond).agg(sum($"as_" + $"bs"))

  /** (pairs, Σ(as + bs)) over the overlapping pairs, by nested loop. */
  private def expected(a: Seq[Iv], b: Seq[Iv]): (Long, Long) = {
    val pairs = for (x <- a; y <- b
      if x._1 == y._1 && x._2 <= y._3 && x._3 >= y._2) yield x._2 + y._2
    (pairs.size.toLong, pairs.map(_.toLong).sum)
  }

  /** The answer, the interval node and the jobs the run started. */
  private def run(df: DataFrame): (Long, IntervalBuildProbeExec[_], Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val answer = try df.collect().head.getLong(0) finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val node = collectFirst(df.queryExecution.executedPlan) {
      case n: IntervalBuildProbeExec[_] => n
    }.get
    (answer, node, jobs.get)
  }

  private def reused(n: IntervalBuildProbeExec[_]): Long =
    n.metrics("buildReused").value

  private def registry = BroadcastBuilds.of(spark.sparkContext)

  test("a repeated count and join over cached tables reuse their builds") {
    val (ra, rb) = (rows(1, 300), rows(2, 300))
    val (a, b) = (cached(build(ra)), cached(probe(rb)))
    val (pairs, sums) = expected(ra, rb)
    try {
      for ((what, df, want) <- Seq(("count", () => countDf(a, b), pairs),
          ("join", () => joinDf(a, b), sums))) {
        // the first build only records its key, the second is kept
        val (got1, n1, jobs1) = run(df())
        val (got2, n2, _) = run(df())
        val (got3, n3, jobs3) = run(df())
        assert(n1.toString.contains("mode=CollectLeft"), n1.toString)
        assert(Seq(got1, got2, got3).forall(_ == want), what)
        assert(Seq(n1, n2, n3).map(reused) == Seq(0, 0, 1), what)
        assert(jobs3 == jobs1 - 1, s"$what: $jobs1 jobs, then $jobs3")
        // the reused build reports the kept build's metrics again
        for (m <- Seq("buildRows", "buildKeys", "buildMemUsed")
            if n2.metrics.contains(m))
          assert(n3.metrics(m).value == n2.metrics(m).value, s"$what $m")
        n3 match {
          case j: IntervalJoinExec =>
            assert(j.metrics("buildRows").value == ra.size)
            assert(j.metrics("buildTime").value <= 0)
          case c: IntervalCountExec =>
            assert(c.metrics("buildKeys").value == ra.map(_._1).distinct.size)
          case other => fail(other.toString)
        }
      }
    } finally { a.unpersist(true); b.unpersist(true) }
  }

  test("unpersist or re-cache under the same view builds again") {
    val sql = "SELECT count(*) FROM reuse_a JOIN reuse_b ON reuse_a.ac = " +
      "reuse_b.bc AND reuse_a.as_ <= reuse_b.be AND reuse_a.ae >= reuse_b.bs"
    val (r1, r2, rb) = (rows(3, 250), rows(4, 260), rows(5, 250))
    val b = cached(probe(rb))
    b.createOrReplaceTempView("reuse_b")
    val a1 = cached(build(r1))
    a1.createOrReplaceTempView("reuse_a")
    try {
      run(spark.sql(sql)); run(spark.sql(sql))
      val (got1, n1, _) = run(spark.sql(sql))
      assert(reused(n1) == 1 && got1 == expected(r1, rb)._1)
      // different rows under the same view
      a1.unpersist(true)
      val a2 = cached(build(r2))
      a2.createOrReplaceTempView("reuse_a")
      val (got2, n2, _) = run(spark.sql(sql))
      assert(reused(n2) == 0)
      assert(got2 == expected(r2, rb)._1)
      // the same plan cached again: a new RDD, so a new build
      a2.unpersist(true)
      cached(a2)
      val (got3, n3, _) = run(spark.sql(sql))
      assert(reused(n3) == 0 && got3 == got2)
      run(spark.sql(sql))
      val (got4, n4, _) = run(spark.sql(sql))
      assert(reused(n4) == 1 && got4 == got2)
      a2.unpersist(true)
    } finally {
      a1.unpersist(true); b.unpersist(true)
      spark.catalog.dropTempView("reuse_a"); spark.catalog.dropTempView("reuse_b")
    }
  }

  test("builds over uncached, non-deterministic or over-threshold inputs " +
       "are never kept") {
    val (ra, rb) = (rows(6, 200), rows(7, 200))
    val b = cached(probe(rb))
    val a = cached(build(ra))
    val dir = java.nio.file.Files.createTempDirectory("reuse-parquet").toString
    build(ra).write.mode("overwrite").parquet(dir)
    val (pairs, _) = expected(ra, rb)
    val cases = Seq(
      // not `build(ra)`: the cache manager would serve that plan from `a`
      "local rows" -> (() => countDf(build(ra.reverse), b)),
      "parquet" -> (() => countDf(spark.read.parquet(dir), b)),
      // (`rand(7) < 2.0` would fold to true)
      "rand() filter" -> (() => countDf(a.where(rand(7) < 0.5), b)))
    try {
      for ((what, df) <- cases) {
        val before = registry.keys.size
        val runs = Seq.fill(3)(run(df()))
        val n = runs.last._2
        assert(n.toString.contains("mode=CollectLeft"), s"$what: $n")
        if (what.startsWith("rand")) assert(runs.forall(_._1 < pairs))
        else assert(runs.forall(_._1 == pairs), what)
        assert(reused(n) == 0, s"$what: ${n.left}")
        assert(registry.keys.size == before, what)
      }
      // a hinted broadcast whose build is over the threshold
      spark.conf.set(SparkTestBase.Threshold, "1000")
      val runs = Seq.fill(3)(run(countDf(broadcast(a), b)))
      val n = runs.last._2
      assert(n.toString.contains("mode=CollectLeft"), n.toString)
      assert(n.metrics("buildMemUsed").value > 1000)
      assert(runs.forall(_._1 == pairs) && reused(n) == 0)
    } finally { a.unpersist(true); b.unpersist(true) }
  }

  test("four threads on one cached table build once and match serial runs") {
    val (ra, rb) = (rows(8, 400), rows(9, 400))
    val (a, b) = (cached(build(ra)), cached(probe(rb)))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CountDownLatch(1)
      val runs = (0 until 4).map { _ =>
        pool.submit { () =>
          start.await()
          val df = countDf(a, b)
          val got = df.collect().head.getLong(0)
          val node = collectFirst(df.queryExecution.executedPlan) {
            case n: IntervalCountExec => n
          }.get
          (got, reused(node))
        }
      }
      start.countDown()
      val got = runs.map(_.get(5, TimeUnit.MINUTES))
      assert(got.map(_._2).sum == 3, s"reuse counts ${got.map(_._2)}")
      val serial = (0 until 2).map(_ => countDf(a, b).collect().head.getLong(0))
      assert(serial.forall(_ == expected(ra, rb)._1))
      assert(got.forall(_._1 == serial.head))
    } finally {
      pool.shutdownNow()
      a.unpersist(true); b.unpersist(true)
    }
  }

  test("unpersist drops the kept builds of that RDD") {
    val a = cached(build(rows(10, 200)))
    val b = cached(probe(rows(11, 200)))
    val before = registry.keys.toSet
    run(countDf(a, b)); run(countDf(a, b))
    run(joinDf(a, b)); run(joinDf(a, b))
    val added = registry.keys.toSet -- before
    assert(added.size == 2, added)
    val ids = added.flatMap(_.rddIds)
    a.unpersist(true)
    ListenerBusDrain(spark.sparkContext)
    assert(!registry.keys.exists(_.rddIds.exists(ids.contains)))
    b.unpersist(true)
  }

  test("distinct builds over one cached table keep at most twice the threshold") {
    val (ra, rb) = (rows(14, 200), rows(15, 200))
    val (a, b) = (cached(build(ra)), cached(probe(rb)))
    val pairs = expected(ra, rb)._1
    // six distinct build subtrees over `a`; every row passes each filter
    def filtered(k: Int) = countDf(broadcast(a.where($"as_" > -k)), b)
    val before = registry.keys.toSet
    try {
      // a build seen once is not kept
      val (_, n1, _) = run(filtered(1))
      assert(registry.keys.toSet == before)
      val size = n1.metrics("buildMemUsed").value
      spark.conf.set(SparkTestBase.Threshold, (2 * size).toString)
      for (k <- 1 to 6; _ <- 1 to 2) {
        val (got, n, _) = run(filtered(k))
        assert(n.toString.contains("mode=CollectLeft"), n.toString)
        assert(got == pairs, s"filter $k")
      }
      assert((registry.keys.toSet -- before).size == 4)
      // the newest builds stay, the oldest were dropped
      assert(reused(run(filtered(6))._2) == 1)
      assert(reused(run(filtered(1))._2) == 0)
    } finally { a.unpersist(true); b.unpersist(true) }
  }

  test("a build planned before its table's unpersist is not kept") {
    val (ra, rb) = (rows(16, 200), rows(17, 200))
    val (a, b) = (cached(build(ra)), cached(probe(rb)))
    try {
      // two plans made before the unpersist: both scan the one cache
      // made afresh after it
      val dfs = Seq.fill(2)(countDf(a, b))
      dfs.foreach(_.queryExecution.executedPlan)
      a.unpersist(true)
      ListenerBusDrain(spark.sparkContext)
      val before = registry.keys.toSet
      for (df <- dfs) {
        val (got, n, _) = run(df)
        assert(n.toString.contains("mode=CollectLeft"), n.toString)
        assert(got == expected(ra, rb)._1)
      }
      assert(registry.keys.toSet == before)
    } finally { a.unpersist(true); b.unpersist(true) }
  }

  test("a kept build over a lowered maxBuildBytes still fails the query") {
    val a = cached(build(rows(12, 300)))
    val b = cached(probe(rows(13, 300)))
    try {
      run(joinDf(a, b))
      val (_, n1, _) = run(joinDf(a, b))
      val size = n1.metrics("buildMemUsed").value
      spark.conf.set(GraftSession.MaxBuildBytes, (size - 1).toString)
      val ex = intercept[Exception](run(joinDf(a, b)))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("[GRAFT_INTERVAL_JOIN]")),
        messages(ex).mkString(" | "))
    } finally {
      spark.conf.unset(GraftSession.MaxBuildBytes)
      a.unpersist(true); b.unpersist(true)
    }
  }
}
