package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cold-vs-warm STAGE attribution for the composed curation report
  * (r16 verdict #4: sf10 q127 ran 344.3 s cold but 119.6 s on a warm
  * second run in the same JVM — two-thirds of the cold wall is
  * something reusable, and nobody had attributed it). Runs the
  * pipeline's stages with a localCheckpoint barrier between each (so a
  * stage's wall bills ONLY its own work, not upstream recompute) for
  * `passes` passes in one JVM; the per-stage pass-1 minus pass-2 delta
  * IS the attribution. Checkpoints are freed between passes, so pass 2
  * measures true warm re-execution (JIT/codegen + page cache + heap
  * sizing), never block reuse. Prints one JSON line per pass plus a
  * delta line. Same session shape as BenchScale (local[32], 32
  * shuffle partitions, 4g maxResultSize) over q127's corpus
  * (`SparkEntry.dupCorpus`: near-dup + exact-dup families over
  * `documents`).
  */
object CurationColdProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf10")
    val passes = if (args.length > 1) args(1).toInt else 2
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Exception => "" }
    val loadStart = loadavg
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
    val shim = org.apache.spark.sql.GraftSqlShim
    import graft.operators.{Dedup, TextStats}
    // task-metric accumulator: per-stage deltas of executor run/GC
    // time, spill and shuffle volume — the numbers that separate
    // "first pass JITs" from "first pass thrashes the heap" from
    // "first pass writes cold shuffle files" (r16 verdict #4 wants the
    // MECHANISM named, not just the stage)
    val mRun = new java.util.concurrent.atomic.AtomicLong
    val mGc = new java.util.concurrent.atomic.AtomicLong
    val mSpillMem = new java.util.concurrent.atomic.AtomicLong
    val mSpillDisk = new java.util.concurrent.atomic.AtomicLong
    val mShufW = new java.util.concurrent.atomic.AtomicLong
    val mShufR = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            mRun.addAndGet(m.executorRunTime)
            mGc.addAndGet(m.jvmGCTime)
            mSpillMem.addAndGet(m.memoryBytesSpilled)
            mSpillDisk.addAndGet(m.diskBytesSpilled)
            mShufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mShufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          }
        }
      })

    val allPasses =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    for (p <- 1 to passes) {
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def timed[T](name: String)(body: => T): T = {
        val s0 = (mRun.get, mGc.get, mSpillMem.get, mSpillDisk.get,
          mShufW.get, mShufR.get)
        val t0 = System.nanoTime()
        val r = body
        val w = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; brief settle before the
        // snapshot (listenerBus.waitUntilEmpty is private[spark]; at
        // stage granularity a fixed pause loses at most a task or two
        // of attribution)
        Thread.sleep(500)
        stages += (name -> w)
        println(f"CURCOLD pass=$p stage=$name wall=$w%.2f " +
          f"runSec=${(mRun.get - s0._1) / 1e3}%.1f " +
          f"gcSec=${(mGc.get - s0._2) / 1e3}%.1f " +
          f"spillMemMB=${(mSpillMem.get - s0._3) >> 20} " +
          f"spillDiskMB=${(mSpillDisk.get - s0._4) >> 20} " +
          f"shufWriteMB=${(mShufW.get - s0._5) >> 20} " +
          f"shufReadMB=${(mShufR.get - s0._6) >> 20}")
        r
      }
      val ckpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def ck(df: DataFrame): DataFrame = {
        val c = df.localCheckpoint(); ckpts += c; c
      }
      // stage 1: corpus scan + langId/quality kernels + the gated
      // shingle hashes (q127's `base`)
      val base = timed("base_kernels") {
        val b = ck(graft.SparkEntry.dupCorpus(spark, dir, near = true)
          .withColumn("lang_ok", TextStats.langId(col("text")) === "en")
          .withColumn("quality_ok",
            TextStats.qualityScore(col("text")) >= 0.55)
          .withColumn("sh", when(col("lang_ok") && col("quality_ok"),
            Dedup.shingleHashes(col("text"), 3))))
        b.count(); b
      }
      val gatedSh = base.where(col("sh").isNotNull)
        .select(col("doc_id").as("id"), col("sh"))
      // stage 2: MinHash banding + Jaccard verify (uncapped, as q127)
      val near = timed("lsh_verify") {
        val n = ck(Dedup.minhashDupPairsFromHashes(gatedSh, 0.95)
          .select("id1", "id2"))
        n.count(); n
      }
      // stage 3: connected components over the near-dup graph
      val nearLosers = timed("cc") {
        val l = ck(Dedup.connectedComponents(near)
          .where(col("id") =!= col("group_id"))
          .select(col("id").as("doc_id")))
        l.count(); l
      }
      // stage 4: survivor anti-join (the report's containment frame)
      val survivors = timed("survivors") {
        val s = ck(gatedSh.join(nearLosers.select(col("doc_id").as("id")),
          Seq("id"), "left_anti"))
        s.count(); s
      }
      // stage 5: containment (broadcast or bounded-scratch count verify)
      val contPairs = timed("containment") {
        val c = ck(Dedup.containmentDupPairsRun(survivors, 0.9).pairs)
        c.count(); c
      }
      // stage 6: loser resolution + final report joins
      timed("report_joins") {
        val contLosers = Dedup.containmentLosers(contPairs)
          .select(col("loser").as("doc_id"))
          .withColumn("cont_loser", lit(true))
        base
          .join(nearLosers.withColumn("near_loser", lit(true)),
            Seq("doc_id"), "left")
          .join(contLosers, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(!col("lang_ok"), "lang")
              .when(!col("quality_ok"), "quality")
              .when(col("near_loser"), "near_dup")
              .when(col("cont_loser"), "contained")
              .as("dropped"))
          .count()
        println(s"CURCOLD pass=$p cont_pairs=${contPairs.count()} " +
          s"cont_losers=${contLosers.count()}")
      }
      allPasses += stages.toSeq
      ckpts.foreach(shim.unpersistCheckpoint)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def js(stages: Seq[(String, Double)]) = stages
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    allPasses.zipWithIndex.foreach { case (s, i) =>
      println(s"""{"metric":"curation_cold","pass":${i + 1},"stages":${js(s)},"total":${fmt(s.map(_._2).sum)},"dir":"$dir","loadavg_start":"$loadStart","loadavg_now":"$loadavg"}""")
    }
    if (allPasses.size >= 2) {
      val cold = allPasses.head.toMap
      val warm = allPasses(1)
      val delta = warm.map { case (k, w) => k -> (cold(k) - w) }
      println(s"""{"metric":"curation_cold_delta","cold_minus_warm":${js(delta)},"total_delta":${fmt(delta.map(_._2).sum)}}""")
    }
    spark.stop()
  }
}
