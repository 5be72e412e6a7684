package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-point scale curve for the flagship + dedup families: runs the
  * same workloads at each given data dir (default sf0.1 and the
  * GenScale-built target/sf1) in ONE session, two reps each
  * (first-invocation vs steady state), and writes one stamped JSON line
  * to `target/bench_sf1.json`. The flagship's coordinate domain scales
  * with the event count (10x rows over a 10x domain ~ 10x pairs — the
  * "more samples, proportionally more data" shape), and the measured
  * pair count is recorded next to the wall time so the curve can be
  * read in ns/pair, not just wall seconds.
  *
  * Usage: runMain graft.tools.BenchScale [dir1] [dir2 ...]
  */
object BenchScale {
  private val ScaleQueries = Seq(
    "q21_dedup_minhash", "q56_dedup_groups", "q69_dedup_groups_large",
    "q74_repeated_spans",
    // round-11 additions over the documents table: bloom-gated
    // decontamination (gram scan + bitset probe), shuffle-free BM25,
    // and the WindowGroupLimit quality top-k
    "q83_bloom_decontamination", "q85_bm25", "q88_quality_topk",
    // round-11 continuation: corpus-LM scoring (vocab broadcast, token
    // instances never shuffle) and the vocab-exploded BPE pair stats —
    // both should scale with the token volume, no quadratic term
    "q97_unigram_logprob", "q98_bpe_pairs",
    // PQ encode+ADC: narrow code rows through both shuffles — should
    // scale with the vector count, never with vector bytes
    "q104_pq_adc",
    // layout family: bucketed co-located join, runtime-pruned
    // partitioned scan, bloom-pruned shuffle join — first invocation
    // pays the write-once layout build, second is the recurring probe
    "q102_bucketed_join", "q103_dpp", "q105_runtime_filter",
    // round-11 fourth session: DSIR log-ratio scoring and the
    // interpolated-bigram LM (both vocab-bounded count tables +
    // term-keyed joins, should scale with token volume) and the
    // bottom-k-sketch containment join (corpus-linear inverted index;
    // candidate volume is the quadratic-risk term to watch)
    "q119_importance", "q120_bigram_logprob", "q122_containment",
    // the composed audit-trail pipeline end to end
    "q127_curation_report",
    // round-13: the streaming family joins the curve — the bounded
    // replay of the stream-static interval join, and the bucketed
    // upsert store driven by the dir's full events table
    "q79_streaming_join", "q109_streaming_upsert",
    // round-13: the oversized-bucket guard — q21's candidate pipeline
    // with the cap armed; the 100x point is where the two curves
    // separate (quadratic family candidates vs corpus-linear)
    "q137_dedup_minhash_capped")

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "target/sf1")
    // optional subset for the second-decade (sf10) run: the full list
    // at 100x sf0.1 would burn the whole bench window on the long tail
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(ScaleQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // rep count per entry (default 2: first-invocation vs steady
    // state). Single-box runs of the scratch-heaviest sf10 entries set
    // 1: one q122-at-sf10 rep shuffles ~40-60 GB and a second rep's
    // files overlap the first's until the ContextCleaner's async GC
    // catches up — on a 78 GB scratch disk that overlap is the
    // difference between completing and ENOSPC (the per-entry rep
    // count is stamped into the artifact via the secs array length).
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // roomy driver for broadcast collects: the containment gate
      // self-clamps to 80% of maxResultSize (see
      // Dedup.broadcastCollectGate), which caps the
      // SPARK_GRAFT_CONTAINMENT_BCAST point's gates at 3.2 GB
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Exception => "" }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // prefer run_timed.sh's pre-JVM stamp: with XMS pre-touch the
    // in-JVM read bills our own page-zeroing burst as foreign load
    // (see graft.Bench; r17 sf10 run stamped 19.6 in-JVM vs 0.16
    // pre-JVM on an idle entry)
    val loadStart =
      sys.env.get("GRAFT_PREJVM_LOADAVG").filter(_.nonEmpty)
        .getOrElse(loadavg)
    // fixed-work CPU stamps: loadavg can't see hypervisor throttling
    // (see graft.Calib) — an inflated calib marks this run's walls
    val (calS0, calM0, calibStart) = graft.Calib.measured("_start")
    // calib-gated retry reference: stampJson just warmed the probe, so
    // one more single() is the run's healthy-host baseline. A probe
    // after an entry reading > 1.5x this marks the entry's window as
    // throttled; the entry re-runs ONCE and the artifact records BOTH
    // attempts — the artifact self-heals instead of shipping with a
    // read rule (five of six driver bench windows have been hit).
    val calibRef = graft.Calib.single()
    def probeHealthy(): (Double, Boolean) = {
      val p = graft.Calib.single()
      (p, p <= calibRef * 1.5)
    }

    val points = dirs.map { dir =>
      graft.Tables.registerAll(spark, dir)
      Seq("events", "documents").foreach(n =>
        graft.Tables.load(spark, dir, n).count())
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      // run `attempt` (2 reps inside), then the calib probe; on an
      // unhealthy probe re-run once, keeping the throttled attempt in
      // the artifact under `<name>_attempt1` with its probe value
      def timedEntry(name: String)(attempt: () => Seq[Double])
          : Seq[Double] = {
        var secs = attempt()
        val (p1, ok1) = probeHealthy()
        if (!ok1) {
          entries += s""""${name}_attempt1":[${secs.map(fmt).mkString(",")}]"""
          entries += s""""${name}_attempt1_calib":${fmt(p1)}"""
          println(s"SCALE $dir $name throttled window " +
            s"(calib ${fmt(p1)} vs ref ${fmt(calibRef)}), retrying once")
          secs = attempt()
          val (p2, _) = probeHealthy()
          entries += s""""${name}_retry_calib":${fmt(p2)}"""
        }
        secs
      }
      for (name <- queries) {
        val fn = graft.SparkEntry.queries(name)
        var rows = 0L
        val secs = timedEntry(name) { () =>
          (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            rows = fn(spark, dir).count()
            (System.nanoTime() - t0) / 1e9
          }
        }
        // output rows ride next to the wall time: on the GenScale dirs
        // the dup-pair OUTPUT of the near-dup entries grows
        // quadratically in the copy factor (every source doc becomes a
        // `copies`-member near-dup family), so those curves must be
        // read in wall-per-output-row, not wall — a flat ratio is the
        // candidate/output-linearity claim.
        entries += s""""$name":[${secs.map(fmt).mkString(",")}]"""
        entries += s""""${name}_rows":$rows"""
        println(s"SCALE $dir $name rows=$rows " + secs.map(fmt).mkString(" "))
      }
      // gated containment point: the q122 pipeline (same near corpus,
      // same 0.9 threshold) with the broadcast gate RAISED via
      // SPARK_GRAFT_CONTAINMENT_BCAST (bytes), with the operator driven
      // directly. This is the knob's measured claim: a resident
      // array broadcast keeps the verify map-side where the over-gate
      // shuffle fallback ships arrays per pair (output-pairs x
      // array-bytes of exchange — ~350 GB at the 100x point).
      sys.env.get("SPARK_GRAFT_CONTAINMENT_BCAST").foreach { gate =>
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = docs
          .union(docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
          .union(docs.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 2000000).as("doc_id"),
              concat(col("text"), lit(" graft dup marker")).as("text")))
        spark.conf.set(
          graft.operators.Dedup.ContainmentBroadcastMaxBytesConf, gate)
        try {
          var rows = 0L
          val secs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            rows = graft.operators.Dedup
              .containmentDupPairs(corpus, "doc_id", "text", 0.9).count()
            (System.nanoTime() - t0) / 1e9
          }
          entries += s""""containment_gated":[${secs.map(fmt).mkString(",")}]"""
          entries += s""""containment_gated_rows":$rows"""
          entries += s""""containment_gated_bcast":$gate"""
          println(s"SCALE $dir containment_gated rows=$rows " +
            secs.map(fmt).mkString(" "))
        } finally spark.conf.unset(
          graft.operators.Dedup.ContainmentBroadcastMaxBytesConf)
      }
      // bounded-scratch batched containment point: the q122 pipeline
      // (default broadcast gate, so the COUNT-based over-gate verify
      // runs) with the scratch budget FORCED low enough via
      // SPARK_GRAFT_CONTAINMENT_SCRATCH (bytes) that the verify splits
      // into k >= 2 sequential hash(id_a) batches with synchronous
      // shuffle cleanup between them — the degradation path a real
      // cluster hits when one wave outgrows its executors' aggregate
      // shuffle disks. The artifact records the batch count actually
      // taken and the PEAK scratch consumed (sampled usable-space
      // delta on the Spark local dir, 250 ms cadence) so the "peak
      // stays under the budget x batches-don't-stack" claim is a
      // recorded number, not an assertion.
      sys.env.get("SPARK_GRAFT_CONTAINMENT_SCRATCH").foreach { budget =>
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = docs
          .union(docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
          .union(docs.where(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 2000000).as("doc_id"),
              concat(col("text"), lit(" graft dup marker")).as("text")))
        spark.conf.set(
          graft.operators.Dedup.ContainmentScratchBytesConf, budget)
        // the batched path only exists ABOVE the broadcast gate — at
        // decades where the shingle frame still fits the 256 MB default
        // (sf1: ~80 MB) the verify would ride the broadcast and the
        // scratch budget would be moot (a first capture recorded k=-1
        // this way). Force the gate low so the entry exercises the same
        // over-gate count path sf10 data reaches naturally.
        spark.conf.set(
          graft.operators.Dedup.ContainmentBroadcastMaxBytesConf,
          (1L << 20).toString)
        val scratchDir = org.apache.spark.sql.GraftSqlShim.firstLocalDir(spark)
        @volatile var minUsable = scratchDir.getUsableSpace
        @volatile var sampling = true
        val sampler = new Thread(() => {
          while (sampling) {
            minUsable = math.min(minUsable, scratchDir.getUsableSpace)
            Thread.sleep(250)
          }
        }, "graft-scratch-sampler")
        sampler.setDaemon(true)
        try {
          var rows = 0L
          var batches = -1
          val usable0 = scratchDir.getUsableSpace
          sampler.start()
          val secs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val run = graft.operators.Dedup.containmentDupPairsRun(
              graft.operators.Dedup.shingleFrame(corpus, "doc_id", "text", 3),
              0.9)
            rows = run.pairs.count()
            batches = run.batches
            (System.nanoTime() - t0) / 1e9
          }
          sampling = false
          val peak = math.max(0L, usable0 - minUsable)
          entries += s""""containment_batched":[${secs.map(fmt).mkString(",")}]"""
          entries += s""""containment_batched_rows":$rows"""
          entries += s""""containment_batched_k":$batches"""
          entries += s""""containment_batched_budget":$budget"""
          entries += s""""containment_batched_peak_scratch":$peak"""
          println(s"SCALE $dir containment_batched rows=$rows k=$batches " +
            s"peak_scratch=$peak " + secs.map(fmt).mkString(" "))
        } finally {
          sampling = false
          spark.conf.unset(
            graft.operators.Dedup.ContainmentScratchBytesConf)
          spark.conf.unset(
            graft.operators.Dedup.ContainmentBroadcastMaxBytesConf)
        }
      }
      // q21's denominator is NOT its output (exact-dup pairs, which are
      // copies-LINEAR): its cost driver is the LSH candidate volume,
      // quadratic in the copy factor because a `copies`-member near-dup
      // family collides across whole bands. Emit the candidate count so
      // the q21 curve reads in wall-per-CANDIDATE.
      if (queries.contains("q21_dedup_minhash")) {
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        // same corpus as SparkEntry.dupCorpus(near = false)
        val corpus = docs.union(docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        val t0 = System.nanoTime()
        val nCand = graft.operators.Dedup
          .lshCandidatePairs(corpus, "doc_id", "text").count()
        val candSec = (System.nanoTime() - t0) / 1e9
        entries += s""""q21_candidates":$nCand"""
        entries += s""""q21_candidates_sec":${fmt(candSec)}"""
        println(s"SCALE $dir q21_candidates=$nCand ${fmt(candSec)}")
      }
      // SPARK_GRAFT_SCALE_SKIP_FIXED=1 skips the always-on fixed
      // entries (flagship / cc_star / upsert) for targeted re-runs of
      // individual queries at an expensive decade — the assembled
      // artifact then merges runs instead of repeating ~15 min of
      // already-captured fixed entries
      if (sys.env.get("SPARK_GRAFT_SCALE_SKIP_FIXED").contains("1")) {
        val p = s"""{"dir":"$dir",${entries.mkString(",")}}"""
        println(p)
        p
      } else {
      var pairs = 0L
      val fSecs = timedEntry("flagship_count") { () =>
        val (p, s) = flagshipCount(spark, dir); pairs = p; s
      }
      entries += s""""flagship_count":[${fSecs.map(fmt).mkString(",")}]"""
      entries += s""""flagship_pairs":$pairs"""
      println(s"SCALE $dir flagship pairs=$pairs " +
        fSecs.map(fmt).mkString(" "))
      // the SAME workload with the 100-TB execution mode pinned: both
      // sides exchange on (contig, bin) and each partition builds its
      // own index — no broadcast anywhere. q13 pins this mode at ledger
      // scale for correctness; this entry gives the mode its own scale
      // curve (r15 verdict: the default-strategy curve was the only
      // decade record). Read it against flagship_count: partitioned
      // mode pays the two exchanges up front, so small decades show a
      // fixed gap that amortizes away as the pair volume grows.
      var pairsPart = 0L
      val fpSecs = timedEntry("flagship_count_partitioned") { () =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try { val (p, s) = flagshipCount(spark, dir); pairsPart = p; s }
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      require(pairsPart == pairs,
        s"partitioned flagship disagrees: $pairsPart vs $pairs")
      entries += s""""flagship_count_partitioned":[${fpSecs.map(fmt).mkString(",")}]"""
      println(s"SCALE $dir flagship_partitioned pairs=$pairsPart " +
        fpSecs.map(fmt).mkString(" "))
      var ccEdges = 0L
      var ccRounds = 0
      val ccSecs = timedEntry("cc_star_scale") { () =>
        val (e, r, s) = ccStarScale(spark, dir)
        ccEdges = e; ccRounds = r; s
      }
      entries += s""""cc_star_scale":[${ccSecs.map(fmt).mkString(",")}]"""
      entries += s""""cc_star_scale_edges":$ccEdges"""
      entries += s""""cc_star_scale_rounds":$ccRounds"""
      println(s"SCALE $dir cc_star edges=$ccEdges rounds=$ccRounds " +
        ccSecs.map(fmt).mkString(" "))
      var storeKeys = 0L
      val upSecs = timedEntry("upsert_scale") { () =>
        val (k, b, p) = upsertScale(spark, dir)
        storeKeys = k; Seq(b, p)
      }
      val (buildSec, probeSec) = (upSecs(0), upSecs(1))
      entries += s""""upsert_store_keys":$storeKeys"""
      entries += s""""upsert_store_build":${fmt(buildSec)}"""
      entries += s""""upsert_probe_batch":${fmt(probeSec)}"""
      println(s"SCALE $dir upsert keys=$storeKeys build=${fmt(buildSec)} " +
        s"probe=${fmt(probeSec)}")
      s"""{"dir":"$dir",${entries.mkString(",")}}"""
      }
    }
    // heap is part of the run's identity: the sf10 candidate volumes
    // need more than the 8g default (SPARK_DRIVER_MEM), and a stamped
    // xmx makes each run's memory budget self-evidencing
    val xmxGb = Runtime.getRuntime.maxMemory / (1L << 30)
    // machine-visible window health, same rubric as graft.Bench
    // (r17 verdict #7: the dirty flag belongs in SCALE artifacts too —
    // the bm25_scale dirty cell was only catchable from its stamps)
    val (calS1, calM1, calibEnd) = graft.Calib.measured("_end")
    def drift(a: Double, b: Double): Double =
      if (math.min(a, b) <= 0) 0.0 else math.abs(a - b) / math.min(a, b)
    val load1 = loadStart.split(",").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
    val windowDirty = load1 > 2.0 ||
      drift(calS0, calS1) > 0.15 || drift(calM0, calM1) > 0.15
    val line = s"""{"metric":"scale_curve","points":[${points.mkString(",")}],"loadavg_start":"$loadStart","loadavg_end":"$loadavg",$calibStart,$calibEnd,"window_dirty":$windowDirty,"cpus":"$cpus","xmx_gb":$xmxGb}"""
    println(line)
    val out = java.nio.file.Paths.get("target", "bench_sf1.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Alternating-star CC over scrambled chains derived from ALL events
    * (the q77/cc_star shape, but with the edge count riding the data
    * dir: 3 pairs per event, xxhash64-scrambled ids so the stall guard
    * routes to the star engine). The curve to read: EDGES grow ~10x,
    * ROUNDS stay flat (O(log diameter), diameter fixed at 4), wall
    * grows ~linearly — a superlinear wall here means a round stopped
    * being one bounded pass over the edge list. */
  private def ccStarScale(spark: SparkSession,
      dir: String): (Long, Int, Seq[Double]) = {
    val J = 4
    val pairs = graft.Tables.load(spark, dir, "events")
      .select(col("event_id").cast("long").as("e"))
      .select(col("e"), explode(sequence(lit(1), lit(J - 1))).as("j"))
      .select(xxhash64(col("e") * J + col("j") - 1).as("id1"),
        xxhash64(col("e") * J + col("j")).as("id2"))
    var rounds = 0
    var nodes = 0L
    val secs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      // low micro gate: BOTH curve points must run the distributed star
      // engine (at sf0.1 the default 1 M gate would solve this graph on
      // the single-task micro path and the curve would compare engines,
      // not scales)
      val cc = graft.operators.Dedup
        .connectedComponentsRun(pairs, maxIterations = 30,
          microGraphMaxEdges = 1000L)
      nodes = cc.labels.count()
      rounds = cc.rounds
      (System.nanoTime() - t0) / 1e9
    }
    // symmetric edge count = 2 * pairs = 2 * 3/4 * nodes
    (nodes / 2 * 3, rounds, secs)
  }

  /** Bucketed upsert-store scale point: build a store keyed by EVERY
    * event id (the key domain rides the dir, 10x rows = 10x store
    * keys), with `numBuckets` sized to the store (the production
    * sizing: store size / target file size) — then time one FIXED
    * 10-key batch against it. The curve to read: `upsert_probe_batch`
    * stays ~FLAT as the store scales, because a 10-key batch touches
    * ≤ 10 buckets of ~constant size — the measured form of the
    * O(|batch keys| + |touched buckets|) claim the layout exists for.
    * (`upsert_store_build` is the one O(store) batch, expected ~linear.) */
  private def upsertScale(spark: SparkSession,
      dir: String): (Long, Double, Double) = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_id").as("user_id"), col("ts"), col("value"))
    val nKeys = ev.count() // event_id is unique per row
    val numBuckets = math.max(8, (nKeys / 12500L).toInt)
    val watch = java.nio.file.Files.createTempDirectory("graft_scale_in")
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_scale_store").toString
    val ck = java.nio.file.Files
      .createTempDirectory("graft_scale_ck").toString
    // timing excludes the returned frame's full-store scan: the stream
    // (and the merge) runs INSIDE upsertAggStore; the result is lazy
    def run(): org.apache.spark.sql.DataFrame = {
      val sdf = spark.readStream.schema(ev.schema).parquet(watch.toString)
      graft.streaming.StreamingOps.upsertAggStore(sdf, "user_id", "ts",
        "value", storeDir, numBuckets = numBuckets, checkpointDir = ck)
    }
    ev.coalesce(8).write.mode("append").parquet(watch.toString)
    val t0 = System.nanoTime()
    run()
    val buildSec = (System.nanoTime() - t0) / 1e9
    ev.limit(10).coalesce(1).write.mode("append").parquet(watch.toString)
    val t1 = System.nanoTime()
    val after = run()
    val probeSec = (System.nanoTime() - t1) / 1e9
    require(after.count() == nKeys, "upsert scale store lost keys")
    Seq(watch.toString, storeDir, ck)
      .foreach(p => rmTree(new java.io.File(p)))
    (nKeys, buildSec, probeSec)
  }

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree); f.delete()
  }

  /** The Bench flagship keyed-overlap count with the coordinate modulus
    * scaled to the event count: at sf0.1 (100k events) this is EXACTLY
    * Bench's `flagship_80m_count` workload (mod 100000); at a 10x slice
    * the domain widens 10x so pair counts grow ~linearly with rows. */
  private def flagshipCount(spark: SparkSession,
      dir: String): (Long, Seq[Double]) = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select("event_id", "user_id")
    val n = ev.count()
    val mod = math.max(100000L, (n / 100000L) * 100000L)
    def tbl(mult: Int, width: Int) = ev.select(
      (col("user_id") % 20).cast("int").as("contig"),
      ((col("event_id") * mult) % mod).cast("int").as("pos_start"),
      ((col("event_id") * mult) % mod + col("event_id") % width * 20)
        .cast("int").as("pos_end"))
    val a = tbl(37, 1000).repartition(32).cache()
    val b = tbl(53, 700).repartition(32).cache()
    a.count(); b.count()
    try {
      val cond = a("contig") === b("contig") &&
        a("pos_start") <= b("pos_end") && a("pos_end") >= b("pos_start")
      var pairs = 0L
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        pairs = a.join(b, cond).count()
        (System.nanoTime() - t0) / 1e9
      }
      (pairs, secs)
    } finally { a.unpersist(); b.unpersist() }
  }
}
