package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-exchange attribution of the exact containment verify
  * ([[graft.operators.Dedup.containmentDupPairs]]): decomposes its
  * candidate chain into the individual exchanges — the raw probe-join
  * stream, the candidate distinct, and the (id_a, id_b) pair-count
  * aggregate a shared-hash count would ride on — and times each as its
  * own job with per-JOB task metrics (bytes AND records, so row-count
  * inflation separates from row-width inflation) plus a per-STAGE
  * metric log, next to one full verify call on the same corpus.
  *
  * Usage: runMain graft.tools.ContainmentAttrib <sfDir> [steps...]
  *   steps default: raw distinct cnt full0
  *   opt-in: plans (prints the formatted plans of the candidate
  *   stream, its distinct and the pair-count aggregate, plus the raw
  *   candidate row count)
  * Corpus: the q127-shaped survivors (uncapped LSH near-dup stage) over
  * `SparkEntry.dupCorpus`, as in CurationColdProbe, checkpointed once
  * untimed.
  */
object ContainmentAttrib {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf1")
    val steps = if (args.length > 1) args.drop(1).toSet
      else Set("raw", "distinct", "cnt", "full0")
    val cpus = graft.GraftSession.mainCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
    import graft.operators.{Dedup, TextStats}

    // per-stage metric log: stage id + name prefix + task count +
    // shuffle bytes/records + spill, printed as each stage completes —
    // the per-job totals below say WHICH sub-plan is expensive, this
    // says WHICH EXCHANGE inside it
    val mRun = new java.util.concurrent.atomic.AtomicLong
    val mShufWB = new java.util.concurrent.atomic.AtomicLong
    val mShufWR = new java.util.concurrent.atomic.AtomicLong
    val mShufRB = new java.util.concurrent.atomic.AtomicLong
    val mSpillMem = new java.util.concurrent.atomic.AtomicLong
    val mSpillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            mRun.addAndGet(m.executorRunTime)
            mShufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mShufWR.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            mShufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            mSpillMem.addAndGet(m.memoryBytesSpilled)
            mSpillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          if (m != null && (m.shuffleWriteMetrics.bytesWritten > 0 ||
              m.memoryBytesSpilled > 0)) {
            println(f"STAGE id=${si.stageId} tasks=${si.numTasks} " +
              f"wMB=${m.shuffleWriteMetrics.bytesWritten >> 20} " +
              f"wRec=${m.shuffleWriteMetrics.recordsWritten} " +
              f"rMB=${m.shuffleReadMetrics.totalBytesRead >> 20} " +
              f"spillMemMB=${m.memoryBytesSpilled >> 20} " +
              f"spillDiskMB=${m.diskBytesSpilled >> 20} " +
              f"name=${si.name.takeWhile(_ != '\n').take(60)}")
          }
        }
      })

    def timed[T](name: String)(body: => T): T = {
      val s0 = (mRun.get, mShufWB.get, mShufWR.get, mShufRB.get,
        mSpillMem.get, mSpillDisk.get)
      val t0 = System.nanoTime()
      val r = body
      val w = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"ATTRIB step=$name wall=$w%.2f " +
        f"runSec=${(mRun.get - s0._1) / 1e3}%.1f " +
        f"shufWriteMB=${(mShufWB.get - s0._2) >> 20} " +
        f"shufWriteRec=${mShufWR.get - s0._3} " +
        f"shufReadMB=${(mShufRB.get - s0._4) >> 20} " +
        f"spillMemMB=${(mSpillMem.get - s0._5) >> 20} " +
        f"spillDiskMB=${(mSpillDisk.get - s0._6) >> 20}")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // q127-shaped survivors (CurationColdProbe's stages 1-4),
    // checkpointed untimed
    val base = graft.SparkEntry.dupCorpus(spark, dir, near = true)
      .withColumn("lang_ok", TextStats.langId(col("text")) === "en")
      .withColumn("quality_ok", TextStats.qualityScore(col("text")) >= 0.55)
      .withColumn("sh", when(col("lang_ok") && col("quality_ok"),
        Dedup.shingleHashes(col("text"), 3)))
      .localCheckpoint()
    val gatedSh = base.where(col("sh").isNotNull)
      .select(col("doc_id").as("id"), col("sh"))
    val near = Dedup.minhashDupPairsFromHashes(gatedSh, 0.95)
      .select("id1", "id2").localCheckpoint()
    val losers = Dedup.connectedComponents(near)
      .where(col("id") =!= col("group_id"))
      .select(col("id")).localCheckpoint()
    // the containment frame: (id, sh) of the near-dup survivors
    val sh = gatedSh.join(losers, Seq("id"), "left_anti").localCheckpoint()
    val nDocs = sh.count()
    println(s"ATTRIB survivors=$nDocs")

    // the operator's own candidate plan with its default parameters
    // (probeK 8, maxShingleDf 16384), measured in isolation
    val cands = Dedup.containmentCandidates(sh, nDocs, 8, 16384L,
      Dedup.containmentBroadcastGate(spark)).cands

    if (steps("plans")) {
      println("==== plan: cands ===="); cands.explain("formatted")
      println("==== plan: cands.distinct ===="); cands.distinct().explain("formatted")
      println("==== plan: pair_count_agg ====")
      cands.groupBy("id_a", "id_b").agg(count(lit(1)).as("__nsh"))
        .explain("formatted")
      println("ATTRIB raw_cands_rows=" + cands.count())
    }
    if (steps("raw")) timed("raw_cands")(noop(cands))
    if (steps("distinct")) timed("cands_distinct")(noop(cands.distinct()))
    if (steps("cnt")) {
      val agg = cands.groupBy("id_a", "id_b").agg(count(lit(1)).as("__nsh"))
      timed("pair_count_agg")(noop(agg))
    }
    if (steps("full0")) {
      timed("full_verify") {
        println("ATTRIB cont_pairs=" +
          Dedup.containmentDupPairsRun(sh, 0.9).pairs.count())
      }
    }
    spark.stop()
  }
}
