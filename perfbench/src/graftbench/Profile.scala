package graftbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spark's work per job group, seen from outside the program: the
  * benchmark sets one job group per traced operation (and per probe) and
  * this listener files every job, stage and task under it. */
final class StageProfile extends SparkListener {
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, launchMs: Long, durMs: Long, shuffleWrite: Long,
      shuffleRead: Long, shuffleRecords: Long, spill: Long, peakMem: Long,
      failed: Boolean)

  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val stagesRun = mutable.Map.empty[String, Int]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobGroup(e.jobId) = g
        jobSpan(e.jobId) = (e.time, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (s, _) => jobSpan(e.jobId) = (s, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g =>
      stagesRun(g) = stagesRun.getOrElse(g, 0) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val m = e.taskMetrics
      val i = e.taskInfo
      val t = if (m == null) Task(e.stageId, 0, 0, 0, i.launchTime, i.duration,
          0, 0, 0, 0, 0, e.reason != Success)
        else Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          i.launchTime, i.duration, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.recordsWritten,
          m.diskBytesSpilled, m.peakExecutionMemory, e.reason != Success)
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += t
    }
  }

  /** Spark's work under one job group. `wallMs` is the caller's epoch
    * interval for the group; the part of it no job covers is driver-only. */
  def group(g: String, wallMs: (Long, Long)): Map[String, Double] = synchronized {
    val ts = tasks.getOrElse(g, mutable.ArrayBuffer.empty).toSeq
    val jobs = jobGroup.collect { case (j, `g`) => jobSpan(j) }.toSeq.sortBy(_._1)
    // union of job intervals clipped to the wall interval
    var covered = 0L
    var reach = wallMs._1
    jobs.foreach { case (s0, e0) =>
      val s = math.max(s0, reach)
      val e = math.min(e0, wallMs._2)
      if (e > s) { covered += e - s; reach = e }
    }
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }
    Map(
      "jobs" -> jobs.size.toDouble,
      "stages" -> stagesRun.getOrElse(g, 0).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_busy_s" -> ts.map(_.runMs).sum / 1e3,
      "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "sched_wait_s" -> ts.map(t =>
        math.max(0L, t.launchMs - stageSubmitMs.getOrElse(t.stage, t.launchMs))).sum / 1e3,
      "driver_only_s" -> math.max(0L, wallMs._2 - wallMs._1 - covered) / 1e3,
      "task_max_over_p50" -> (if (skew.isEmpty) 1.0 else skew.max),
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_records" -> ts.map(_.shuffleRecords).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "peak_exec_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
      "failed_tasks" -> ts.count(_.failed).toDouble)
  }
}

/** SQL metrics of the executed plan, found by node name so the reader
  * does not depend on the program's operator classes. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def named(df: DataFrame, nodeName: String): Seq[SparkPlan] =
    nodes(df.queryExecution.executedPlan).filter(_.nodeName == nodeName)

  def sum(ps: Seq[SparkPlan], metric: String): Long =
    ps.flatMap(_.metrics.get(metric)).map(_.value).sum

  /** `mode=...` from the node's one-line description, "none" without one. */
  def mode(ps: Seq[SparkPlan]): String = ps.headOption
    .flatMap(p => "mode=(\\w+)".r.findFirstMatchIn(p.simpleString(10)))
    .map(_.group(1)).getOrElse("none")
}
