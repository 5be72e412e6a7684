package graftbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json
  * declares the same names and units; the self-test holds them equal. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_s_p50" -> "s",
    "op_s_tail" -> "s",
    "work_per_s" -> "1/s",
    "cpu_s_per_op" -> "s",
    "heap_peak_mb" -> "MB")

  val rangejoinAlgorithms = Seq("superintervals", "ailist", "intervaltree", "lapper")
  val rangejoinWidths = Seq("i32", "i64")

  val sparkPerOp: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_busy_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "sched_wait_s" -> "s", "driver_only_s" -> "s", "task_max_over_p50" -> "ratio",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_records" -> "count", "spill_bytes" -> "bytes",
    "peak_exec_mem_bytes" -> "bytes", "failed_tasks" -> "count")

  val perLayer: Seq[(String, String)] = Seq(
    "session.install_s" -> "s",
    "setup.generate_s" -> "s",
    "setup.cache_s" -> "s",
    "setup.warmup_s" -> "s",
    "plans.plan_s" -> "s",
    "plans.count_s" -> "s",
    "plans.join_s" -> "s",
    "plans.build_s" -> "s",
    "plans.build_mem_bytes" -> "bytes",
    "plans.build_rows" -> "count",
    "plans.probe_rows" -> "count",
    "plans.output_rows" -> "count",
    "plans.pairs_per_probe_row" -> "ratio") ++
    (for (a <- rangejoinAlgorithms; w <- rangejoinWidths;
          (m, u) <- Seq("build_ns_per_interval" -> "ns", "probe_ns_per_query" -> "ns",
            "ns_per_hit" -> "ns")) yield s"rangejoin.$a.$w.$m" -> u) ++
    Seq(
      "functions.text_profile_ns_per_doc" -> "ns",
      "functions.shingle_hashes_ns_per_doc" -> "ns",
      "functions.minhash_ns_per_doc" -> "ns",
      "operators.text_gate_s" -> "s",
      "operators.exact_stars_s" -> "s",
      "operators.minhash_pairs_s" -> "s",
      "operators.lsh_candidates" -> "count",
      "operators.lsh_verified_frac" -> "ratio",
      "operators.containment_s" -> "s",
      "operators.containment_shuffle_bytes" -> "bytes",
      "operators.containment_spill_bytes" -> "bytes",
      "operators.containment_pairs" -> "count",
      "operators.cc_s" -> "s",
      "operators.cc_jobs" -> "count",
      "operators.cc_stages" -> "count") ++
    sparkPerOp.map { case (m, u) => s"spark.$m" -> u } ++
    Seq(
      "spark.codegen_compiles" -> "count",
      "jvm.jit_s" -> "s",
      "jvm.gc_s" -> "s",
      "trace_overhead_frac" -> "ratio")
}
