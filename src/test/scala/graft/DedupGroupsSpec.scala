package graft

import graft.operators.Dedup

import org.apache.spark.sql.functions._

/** Connected-components duplicate-group resolution over a pair graph:
  * the single-task union-find (micro) path, the contraction pre-pass
  * feeding it (contract→micro), and the alternating-star engine. */
class DedupGroupsSpec extends SparkTestBase {

  import spark.implicits._

  /** Default path: tiny graphs resolve via the single-task union-find. */
  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Distributed path, forced by disabling both micro-graph gates
    * (microGraphMaxEdges = 0): the contraction pre-pass runs and its
    * forest — or, on a stalled contraction, the original edges —
    * resolves through alternating star rounds. */
  private def ccLoop(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id1", "id2"),
        microGraphMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("transitive pairs collapse to one group") {
    // A~B, B~C but no A~C pair — the exact case pairwise dedup misses
    val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges past one propagation round") {
    // path graph 30-31-32-33-34-35: diameter 5 forces multiple rounds
    val chain = (30L to 34L).map(i => (i, i + 1))
    val labels = ccLoop(chain)
    assert(labels == (30L to 35L).map(_ -> 30L).toMap)
    // the micro-graph union-find path agrees
    assert(cc(chain) == labels)
  }

  test("reversed and duplicate edges are normalized") {
    val labels = cc(Seq((2L, 1L), (1L, 2L), (2L, 3L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("bridged cliques merge under the lowest id overall") {
    val cliqueA = Seq((5L, 6L), (5L, 7L), (6L, 7L))
    val cliqueB = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val labels = cc(cliqueA ++ cliqueB ++ Seq((7L, 3L)))
    assert(labels.values.toSet == Set(1L))
    assert(labels.keySet == Set(1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("deep chain (diameter 25) converges to the chain head") {
    // forced distributed path on a deep chain (the dup corpus itself is
    // star-shaped); the contraction pre-pass collapses most of it, any
    // remainder resolves downstream
    val chain = (100L to 124L).map(i => (i, i + 1))
    val labels = ccLoop(chain)
    assert(labels == (100L to 125L).map(_ -> 100L).toMap)
  }

  test("diameter-100 chain converges within default maxIterations") {
    // end-to-end on the forced distributed path: the contraction
    // pre-pass collapses the chain, star rounds resolve the forest
    val chain = (1000L to 1099L).map(i => (i, i + 1))
    val labels = ccLoop(chain)
    assert(labels == (1000L to 1100L).map(_ -> 1000L).toMap)
  }

  test("non-convergence throws instead of returning truncated labels") {
    // a scrambled 41-node chain routes to star rounds (the union-find
    // paths have no round budget to exhaust); one round cannot flatten
    // it, so the engine must throw, not return partial labels
    val chain = (0 until 40).map(i => (mix(i.toLong), mix(i.toLong + 1)))
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("id1", "id2"),
          maxIterations = 1, microGraphMaxEdges = 10L)
        .collect()
    }
    // only the star engine has a round budget, and it names itself
    assert(ex.getMessage.contains("star rounds did not converge"),
      ex.getMessage)
  }

  test("checkpointed edge list keeps its src partitioning (no re-shuffle)") {
    // the mechanism connectedComponents relies on: repartition(src) +
    // localCheckpoint preserves outputPartitioning, so the per-round
    // edges-side of the join plans with NO Exchange above the RDD scan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a shuffle join so partitioning requirements are visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val edges = Dedup.checkpointPartitionedBy(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"), "src")
      val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "lbl")
      val joined = edges.join(labels, edges("src") === labels("id"))
      val plan = joined.queryExecution.executedPlan.toString
      // exactly one hash Exchange: the labels side; the edges side reads
      // the checkpoint's preserved hashpartitioning(src) directly
      assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
        s"plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("checkpoint build never flips AQE on the caller's session") {
    // the checkpoint build touches no session conf at all — adaptive
    // execution stays on before, during, and after
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val edges = Dedup.checkpointPartitionedBy(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src")
    assert(edges.count() == 2)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("non-numeric (string) ids work; group id is the lexicographic min") {
    val pairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id1", "id2")
    val expected = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == expected)
    val loopLabels = Dedup.connectedComponents(pairs, microGraphMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(loopLabels == expected)
  }

  test("empty pair set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("randomized graph matches brute-force union-find") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val pairs = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    // driver-side union-find as the naive oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    // both paths — single-task union-find and the distributed path —
    // must agree with the naive oracle
    assert(cc(pairs) == expected)
    assert(ccLoop(pairs) == expected)
  }

  test("dupGroupStats reports canonical id, size and max member") {
    val stats = Dedup.dupGroupStats(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == Set((1L, 3L, 3L), (10L, 2L, 11L)))
  }

  test("keepCanonical drops exactly the non-canonical members") {
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
      .withColumn("payload", col("doc_id") * 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // 99 is in no pair and must pass through untouched
    assert(kept == Set(1L, 10L, 99L))
  }

  /** 80 disjoint 50-node chains at ids k*1000 .. k*1000+49 — id-local,
    * so the range-partitioned contraction pass collapses nearly every
    * chain inside one partition. */
  private def localChains: Seq[(Long, Long)] =
    for (k <- 0L until 80L; i <- 0L until 49L)
      yield (k * 1000 + i, k * 1000 + i + 1)

  test("id-local graph above the micro gate contracts to the micro path") {
    // 7840 symmetric edges > microGraphMaxEdges=1500, so the distributed
    // phases engage; the contraction forest (~one row per node, ~4000)
    // clears the stall guard AND the post-contraction micro threshold
    // (4x1500), so zero star rounds run
    val run = Dedup.connectedComponentsRun(
        localChains.toDF("id1", "id2"), microGraphMaxEdges = 1500L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for (k <- 0L until 80L; i <- 0L to 49L)
      yield (k * 1000 + i) -> (k * 1000)).toMap
    assert(labels == expected)
    assert(run.rounds == 0,
      s"expected micro resolution, ran ${run.rounds} rounds")
    assert(run.forestEdges > 0 && run.forestEdges < 7840 * 0.7,
      s"forest ${run.forestEdges} rows did not contract")
  }

  test("contracted graph above the micro threshold still loops correctly") {
    // microGraphMaxEdges=0 disables the micro path entirely (both gates):
    // star rounds run over the contracted forest and must agree
    val run = Dedup.connectedComponentsRun(
        localChains.toDF("id1", "id2"), microGraphMaxEdges = 0L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for (k <- 0L until 80L; i <- 0L to 49L)
      yield (k * 1000 + i) -> (k * 1000)).toMap
    assert(labels == expected)
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(run.rounds > 0, "star rounds did not run")
    assert(run.forestEdges > 0, "contraction pass did not run")
  }

  test("non-id-local graph falls back to star rounds and stays correct") {
    // pseudo-random permutation edges: no id locality, so contraction
    // stalls (or barely reduces) and the guard routes to the loop
    val n = 2000
    val pairs = (0 until n).map(i => (i.toLong, ((i * 7919) % n).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val run = Dedup.connectedComponentsRun(
        pairs.toDF("id1", "id2"), microGraphMaxEdges = 100L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == expected)
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(run.rounds > 0, "star rounds did not run")
  }

  test("stall probe: clearly non-local numeric graph skips the " +
       "contraction pass entirely") {
    // every edge spans half the id range (median diff = 2x the
    // 4-partition width) — the probe must route to star WITHOUT
    // running contraction (forestEdges stays -1)
    val pairs = (0L until 2000L).map(i => (i, i + 1000000L))
    val run = Dedup.connectedComponentsRun(pairs.toDF("id1", "id2"),
        microGraphMaxEdges = 100L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == pairs.flatMap { case (a, b) =>
      Seq(a -> a, b -> a) }.toMap)
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(run.forestEdges == -1L,
      s"contraction ran (forest=${run.forestEdges}) despite the probe")
  }

  test("stall probe: id-local graph still takes the contraction path") {
    // the probe must NOT fire on a local graph (median diff 1); the
    // contraction pass runs and its forest resolves downstream
    val chains = for (k <- 0L until 40L; i <- 0L until 49L)
      yield (k * 1000 + i, k * 1000 + i + 1)
    val run = Dedup.connectedComponentsRun(chains.toDF("id1", "id2"),
        microGraphMaxEdges = 100L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for (k <- 0L until 40L; i <- 0L to 49L)
      yield (k * 1000 + i) -> (k * 1000)).toMap
    assert(labels == expected)
    assert(run.forestEdges > 0,
      "contraction pass did not run on an id-local graph")
  }

  test("self-pairs survive every path as singleton groups") {
    // a node whose only pair is (u, u) must still be labeled — through
    // the micro path, the contraction pass, and the loop
    val pairs = Seq((7L, 7L), (1L, 2L))
    assert(cc(pairs) == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(ccLoop(pairs) == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("integer id columns run the primitive union-find correctly") {
    val pairs = Seq((5, 6), (6, 7), (100, 101)).toDF("id1", "id2")
    val expected = Map(5 -> 5, 6 -> 5, 7 -> 5, 100 -> 100, 101 -> 100)
    val micro = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(micro == expected)
    val loop = Dedup.connectedComponents(pairs, microGraphMaxEdges = 0L)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(loop == expected)
  }

  test("negative ids hash and order correctly in the primitive path") {
    val pairs = Seq((-5L, -6L), (-6L, 3L), (0L, -1L))
    assert(cc(pairs) == Map(-6L -> -6L, -5L -> -6L, 3L -> -6L,
      -1L -> -1L, 0L -> -1L))
    assert(ccLoop(pairs) == cc(pairs))
  }

  /** Bijective id scramble (odd-multiplier mix, driver-side Scala so
    * wraparound is fine): destroys the id locality along the graph, so
    * the contraction pre-pass stalls and the star engine takes over. */
  private def mix(i: Long): Long = {
    val x = i * 0x9E3779B97F4A7C15L
    x ^ (x >>> 31)
  }

  test("scrambled deep chains route to star rounds and converge in O(log d)") {
    // 8 chains of 50 nodes with scrambled ids: no locality, so the
    // contraction pre-pass stalls and the star engine runs. Star rounds
    // must converge in far fewer than the ~diameter rounds a neighbor-min
    // loop would need on these ids.
    val pairs = for (k <- 0L until 8L; i <- 0L until 49L)
      yield (mix(k * 50 + i), mix(k * 50 + i + 1))
    val run = Dedup.connectedComponentsRun(
        pairs.toDF("id1", "id2"), microGraphMaxEdges = 100L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for (k <- 0L until 8L) yield {
      val ids = (0L to 49L).map(i => mix(k * 50 + i))
      ids.map(_ -> ids.min)
    }).flatten.toMap
    assert(labels == expected)
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(run.rounds > 0 && run.rounds <= 12,
      s"star rounds not O(log d): ${run.rounds} rounds for diameter 49")
  }

  test("string ids survive the star engine with SQL min semantics") {
    // chain over scrambled hex-string ids: stall guard fires, star rounds
    // run over a non-primitive type; group id = lexicographic min
    val ids = (0 until 80).map(i => f"${mix(i.toLong)}%016x")
    val pairs = (0 until 79).map(i => (ids(i), ids(i + 1)))
    val run = Dedup.connectedComponentsRun(
        pairs.toDF("id1", "id2"), microGraphMaxEdges = 10L)
    val labels = run.labels
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == ids.map(_ -> ids.min).toMap)
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    // the micro path agrees on the identical input
    val micro = Dedup.connectedComponents(pairs.toDF("id1", "id2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(micro == labels)
  }

  test("self-pairs survive the star engine as singleton groups") {
    // (u, u) canonicalizes away inside starLoop (hi > lo drops it); the
    // node inventory must still label u with itself
    val chain = (0 until 40).map(i => (mix(i.toLong), mix(i.toLong + 1)))
    val lone = mix(9999L)
    val pairs = chain :+ (lone, lone)
    val run = Dedup.connectedComponentsRun(
        pairs.toDF("id1", "id2"), microGraphMaxEdges = 10L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(labels(lone) == lone)
    val chainIds = (0L to 40L).map(mix)
    assert(chainIds.forall(id => labels(id) == chainIds.min))
  }

  test("star loop restores spark.sql.adaptive.enabled after big-graph rounds") {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // 640k symmetric edges: over the big-graph gate, so the rounds run
    // in a loop session with AQE off (and the shuffle-partition width
    // down to the round's explicit-N density); the caller's session
    // must not see either pin, and the labels come back on it.
    // Scrambled disjoint 2-chains — stall probe routes to star,
    // converges fast.
    val pairs = spark.range(0, 320000)
      .select(xxhash64(col("id") * 2).as("id1"),
        xxhash64(col("id") * 2 + 1).as("id2"))
    val run = Dedup.connectedComponentsRun(pairs, microGraphMaxEdges = 1000L)
    assert(run.labels.sparkSession eq spark,
      "star loop returned labels bound to its loop session")
    assert(run.labels.count() == 640000L)
    assert(run.engine == "star", s"expected the star engine, got ${run.engine}")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == before,
      "star loop leaked its AQE pin")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore,
      "star loop leaked its shuffle-partition pin")
  }

  test("graft.debug.assertLayout fails loud on a wrong hash-layout assume") {
    import org.apache.spark.sql.GraftSqlShim
    spark.conf.set("graft.debug.assertLayout", "true")
    try {
      // round-robin layout (keyless repartition) is NOT the asserted
      // hashpartitioning(id, 4) — the sampled check must fail the job
      // with the contract text, not silently record the wrong layout
      val wrong = spark.range(0, 1000).toDF("id").repartition(4)
      val recorded =
        GraftSqlShim.lazyCheckpointAssumeHashPartitioned(wrong, "id", 4)
      val ex = intercept[Exception] { recorded.count() }
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
      assert(msgs(ex).contains("contract violated"),
        s"expected the layout-contract failure, got: ${msgs(ex)}")
      // a CORRECT assume passes with the conf on (and costs only the
      // sampled evals)
      val right = spark.range(0, 1000).toDF("id").repartition(4, col("id"))
      val ok =
        GraftSqlShim.lazyCheckpointAssumeHashPartitioned(right, "id", 4)
      assert(ok.count() == 1000)
    } finally spark.conf.unset("graft.debug.assertLayout")
  }

  test("star rounds' layout assumes hold under the debug checker") {
    // every lazyCheckpointAssumeHashPartitioned inside starLoop (the
    // round edge list AND the carried p-aggregate) is validated by the
    // sampled per-partition check — a wrong assume fails the job loud
    spark.conf.set("graft.debug.assertLayout", "true")
    try {
      val pairs = (0 until 500).map(i => (mix(i.toLong), mix(i.toLong + 1)))
      val run = Dedup.connectedComponentsRun(
          pairs.toDF("id1", "id2"), microGraphMaxEdges = 10L)
      val labels = run.labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(run.engine == "star", s"expected star engine, got ${run.engine}")
      val ids = (0L to 500L).map(mix)
      assert(labels == ids.map(_ -> ids.min).toMap)
    } finally spark.conf.unset("graft.debug.assertLayout")
  }

  test("big-graph star rounds: correct labels, layout assumes hold") {
    // the big-graph regime (AQE pinned off, shuffle width pinned to the
    // round's nStar) under the sampled layout checker: every recorded
    // hash(hi, nStar) checkpoint layout must hold at that width. Graph
    // must cross the big-graph gate: 60 k scrambled 7-node chains =
    // 720 k symmetric edges, depth 6 so several rounds run, not just
    // the first.
    spark.conf.set("graft.debug.assertLayout", "true")
    try {
      val L = 7
      val nodes = spark.range(0, 60000)
        .select(col("id").as("e"),
          explode(sequence(lit(0), lit(L - 1))).as("j"))
        .select(col("e"), col("j"),
          xxhash64(col("e") * L + col("j")).as("node"))
      val pairs = nodes.where(col("j") > 0)
        .select(xxhash64(col("e") * L + col("j") - 1).as("id1"),
          col("node").as("id2"))
      val run = Dedup.connectedComponentsRun(pairs,
        microGraphMaxEdges = 10L)
      val labels = run.labels
      val expected = nodes.groupBy("e").agg(min("node").as("exp"))
      val bad = labels.join(
          nodes.join(expected, "e")
            .select(col("node").as("id"), col("exp")), "id")
        .where(col("group_id") =!= col("exp")).count()
      assert(run.engine == "star", s"expected star engine, got ${run.engine}")
      assert(bad == 0L, s"$bad nodes labeled off the chain minimum")
      assert(labels.count() == 420000L)
    } finally spark.conf.unset("graft.debug.assertLayout")
  }

  test("star engine matches brute force on a random scrambled graph") {
    val rnd = new scala.util.Random(42)
    val n = 600
    val pairs = (0 until 900).map(_ =>
      (mix(rnd.nextInt(n).toLong), mix(rnd.nextInt(n).toLong)))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val run = Dedup.connectedComponentsRun(
        pairs.toDF("id1", "id2"), microGraphMaxEdges = 10L)
    val labels = run.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run.engine == "star", s"expected star engine, got ${run.engine}")
    assert(labels == expected)
  }
}
