package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One benchmark run: set up a seeded workload in a local[nproc] Spark
  * session, then run its operation in a closed loop (one client, the
  * driver thread, each operation issued when the previous one returned)
  * for the requested seconds, checking every answer.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced
  * (`--trace 1`) half the operations run under spans and a job group of
  * their own, the others run plain so the tracing overhead shows, and
  * layer probes run after the timed window; it reports the per-layer
  * metrics. The last stdout line is the result JSON. */
object Main {
  /** Input set-ups per run; set-up time counts their median. */
  private val SetupReps = 3
  /** Untimed operations before the window: the first ones still pay JIT
    * compilation and code generation, and on `curation` operations keep
    * getting faster until about the eighth. */
  private val WarmupOps = 5
  /** Timed operations at least, whatever `--seconds` says: eleven, so
    * that op_s_tail has ten samples beyond it. */
  private val MinOps = 11

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try { run(Workload(opt("workload")), opt); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def run(w: Workload, opt: Map[String, String]): Unit = {
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val launchNs = opt("launch-epoch-ns").toLong
    val runDir = opt("run-dir")
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Machine.nproc, "heap_max_mb" -> Machine.heapMaxMb,
      "loadavg_start" -> Machine.loadavg, "jdk" -> Machine.jdk)
    val (probeBefore, probeS) = Workload.seconds(Machine.cpuProbe())
    stamp("cpu_probe_before_s") = probeBefore
    val t = new Tracer
    t.enabled = trace

    val spark = t.span("session.install") {
      val s = SparkSession.builder()
        .master(s"local[${Machine.nproc}]")
        .appName("graftbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", Machine.nproc.toString)
        .config("spark.driver.maxResultSize", "1g")
        // the UI is off; keep its status stores from growing with the
        // number of operations run, which the retained heap would show
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.local.dir", s"$runDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      GraftSession.install(s)
    }
    stamp("spark") = spark.version
    val sc = spark.sparkContext
    val prof = new StageProfile
    if (trace) sc.addSparkListener(prof)
    val sessionS = (epochNs - launchNs) / 1e9 - probeS

    // set-up: generate and cache the inputs several times (each but the
    // last dropped again untimed), then warm up. The independent answer
    // is computed once, timed apart and not counted.
    val (exp, answerS) = Workload.seconds(w.expected(w.generate(seed)))
    stamp("answer_precompute_s") = answerS
    val reps = (1 to SetupReps).map { r =>
      val ((in, data), s) = Workload.seconds {
        val in = t.span("setup.generate")(w.generate(seed))
        (in, t.span("setup.cache")(w.load(spark, in)))
      }
      if (r < SetupReps) w.unload(data)
      (in, data, s)
    }
    val (in, data, _) = reps.last
    val (warms, warmS) = Workload.seconds(t.span("setup.warmup") {
      val on = t.enabled
      t.enabled = false
      try Seq.fill(WarmupOps)(Workload.seconds(w.op(spark, data, t))) finally t.enabled = on
    })
    val warm = warms.head._1
    val warmOk = warms.forall { case (a, _) => a == warm && w.check(exp, warm, a) }
    val setupS = sessionS + Stats.median(reps.map(_._3)) + warmS

    // the timed window: operations back to back until their times add up
    // to `seconds` and there are at least MinOps of them
    val ops = mutable.ArrayBuffer.empty[(Boolean, Double, Boolean)] // (traced, seconds, ok)
    val tracedOps = mutable.ArrayBuffer.empty[(String, (Long, Long))]
    var tracedCompiles = 0L
    // the window starts without the warm-up's leftovers
    System.gc()
    val heap = new HeapAfterGc
    val cpu0 = Machine.processCpuSeconds
    val (steal0, ticks0) = Machine.cpuTicks
    val (jit0, codegen0) = (Machine.jitSeconds, Machine.codegenCompiles)
    while (ops.map(_._2).sum < seconds || ops.size < MinOps) {
      val i = ops.size
      // traced, plain, plain, traced, ...: each kind gets early and late
      // slots alike, so warm-up drift does not read as tracing overhead
      val traced = trace && (i % 4 == 0 || i % 4 == 3)
      t.enabled = traced
      t.op = i
      val group = s"op-$i"
      if (traced) sc.setJobGroup(group, group, interruptOnCancel = false)
      val e0 = System.currentTimeMillis()
      val c0 = Machine.codegenCompiles
      val o0 = System.nanoTime()
      val got = try Some(t.span("op")(w.op(spark, data, t))) catch {
        case NonFatal(e) => System.err.println(s"operation $i failed: $e"); None
      }
      val dt = (System.nanoTime() - o0) / 1e9
      if (traced) {
        sc.clearJobGroup()
        tracedOps += group -> (e0, System.currentTimeMillis())
        tracedCompiles += Machine.codegenCompiles - c0
      }
      ops += ((traced, dt, got.exists(w.check(exp, warm, _))))
    }
    val cpuS = Machine.processCpuSeconds - cpu0
    val (steal1, ticks1) = Machine.cpuTicks
    stamp("steal_frac_window") = (steal1 - steal0).toDouble / math.max(ticks1 - ticks0, 1L)
    stamp("jit_s_window") = Machine.jitSeconds - jit0
    stamp("codegen_compiles_window") = Machine.codegenCompiles - codegen0
    val (heapPeak, collections) = heap.stop()
    val heapMb = heapPeak / 1048576.0
    val jitS = Machine.jitSeconds
    val gcS = Machine.gcSeconds
    t.enabled = false
    val failed = ops.count(!_._3)
    val times = ops.map(_._2).toSeq
    val windowS = times.sum
    val (tailS, tailPct, beyond) = Stats.tail(times)
    val labels = mutable.LinkedHashMap[String, Any](
      "ops" -> ops.size, "window_s" -> windowS,
      "op_s_tail_percentile" -> tailPct, "op_s_tail_samples_beyond" -> beyond,
      "window_collections" -> collections,
      "warmup_op_seconds" -> warms.map(x => math.rint(x._2 * 1e4) / 1e4),
      "failed_ops_frac" -> failed.toDouble / ops.size, "warmup_ok" -> warmOk,
      "op_seconds" -> times.map(x => math.rint(x * 1e4) / 1e4))

    var consistent = true
    val metrics: Seq[(String, String, Double)] = if (!trace) {
      val workPerOp = w.workPerOp(in, exp)
      val values = Map(
        "setup_s" -> setupS,
        "op_s_p50" -> Stats.median(times),
        "op_s_tail" -> tailS,
        "work_per_s" -> (ops.size - failed) * workPerOp / windowS,
        "cpu_s_per_op" -> cpuS / ops.size,
        "heap_peak_mb" -> heapMb)
      Metrics.endToEnd.map { case (n, u) => (n, u, values(n)) }
    } else {
      org.apache.spark.graftbench.BusDrain(sc)
      val values = mutable.Map.empty[String, Double]
      def median(prefix: String) = {
        val xs = t.named(prefix).map(_.seconds)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      values ++= Seq("session.install_s", "setup.generate_s", "setup.cache_s",
        "setup.warmup_s").map(n => n -> median(n.stripSuffix("_s")))
      val sparkByOp = tracedOps.map { case (g, wall) => prof.group(g, wall) }
      Metrics.sparkPerOp.foreach { case (m, _) =>
        values(s"spark.$m") = sparkByOp.map(_(m)).sum / math.max(sparkByOp.size, 1)
      }
      values("spark.codegen_compiles") = tracedCompiles.toDouble / math.max(tracedOps.size, 1)
      values("jvm.jit_s") = jitS
      values("jvm.gc_s") = gcS
      val plain = ops.filter(!_._1).map(_._2).toSeq
      val traced = ops.filter(_._1).map(_._2).toSeq
      values("trace_overhead_frac") =
        if (plain.isEmpty || traced.isEmpty) 0.0 else Stats.median(traced) / Stats.median(plain) - 1
      val fromOps = w.opLayers(tracedOps.size, t)
      t.enabled = true
      t.op = -1
      val fromProbes = t.span("probe")(w.probes(spark, in, data, warm, t, prof))
      t.enabled = false
      Seq(fromOps, fromProbes).foreach { r =>
        values ++= r.metrics
        labels ++= r.labels
        consistent &&= r.consistent
      }
      val unknown = values.keySet -- Metrics.perLayer.map(_._1)
      require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
      Metrics.perLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
    }
    stamp("loadavg_end") = Machine.loadavg
    stamp("cpu_probe_after_s") = Machine.cpuProbe()
    println("# machine " + Json(stamp))
    println("# labels " + Json(labels))
    if (trace) {
      val self = t.selfSecondsByLayer
      println("# self_s_by_layer " + Json(self))
      val out = new java.io.File(opt("trace-out"))
      java.nio.file.Files.writeString(out.toPath, Json(Map(
        "machine" -> stamp, "labels" -> labels, "self_s_by_layer" -> self,
        "metrics" -> metrics.map { case (n, _, v) => n -> v }.toMap,
        "spans" -> t.records)))
      println(s"# spans written to $out")
    }
    spark.stop()
    println(Json(mutable.LinkedHashMap(
      "correct" -> (warmOk && failed == 0 && consistent),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, u, v) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
  }
}
