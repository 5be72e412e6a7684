package graft

import graft.operators.Similarity

import org.apache.spark.sql.functions._

/** Tests of the codegen'd cosine_similarity expression. */
class CosineSimilaritySpec extends SparkTestBase {

  import spark.implicits._

  test("matches the declarative zip_with/aggregate formulation") {
    val rnd = new scala.util.Random(5)
    val df = Seq.fill(50)((Seq.fill(16)(rnd.nextFloat() * 2 - 1),
      Seq.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("a", "b")
    val declarative = Similarity.dot($"a", $"b") /
      (Similarity.l2norm($"a") * Similarity.l2norm($"b"))
    val rows = df.select(
      Similarity.cosine($"a", $"b").as("fast"), declarative.as("slow"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("identical vectors → 1.0; orthogonal → 0.0") {
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))).toDF("a", "b")
    val got = df.select(round(Similarity.cosine($"a", $"b"), 9))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("quantizedDot: exact integers, half-away-from-zero rounding") {
    // 0.00005f quantizes to 1 at scale 1e4 only if rounding is away
    // from zero on the DOUBLE product (0.00005f→double ≈ 5.0000e-5 but
    // not exactly — assert against the kernel's own rule recomputed)
    val df = Seq((Seq(1.5f, -2.5f, 0.32f), Seq(1f, 1f, 1f))).toDF("a", "b")
    val got = df.select(Similarity.quantizedDot($"a", $"b", 10)).collect()(0).getLong(0)
    // round(15.0)=15, round(-25.0) away from zero = -25, round(3.2)=3; dot with (10,10,10)
    assert(got == (15L * 10 + -25L * 10 + 3L * 10))
    val nulls = Seq((Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))))
      .toDF("a", "b")
      .select(Similarity.quantizedDot($"a", $"b")).collect()
    assert(nulls(0).isNullAt(0))
  }

  test("quantizedDot matches a BigDecimal reference on random vectors") {
    val rnd = new scala.util.Random(77)
    val rows = Seq.fill(200)((Seq.fill(32)(rnd.nextFloat() * 2 - 1),
      Seq.fill(32)(rnd.nextFloat() * 2 - 1)))
    def qRef(x: Float): Long =
      BigDecimal(x.toDouble * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = rows.map { case (a, b) =>
      a.zip(b).map { case (x, y) => qRef(x) * qRef(y) }.sum
    }
    val got = rows.toDF("a", "b")
      .select(Similarity.quantizedDot($"a", $"b")).collect().map(_.getLong(0))
    assert(got.toSeq == expect)
  }

  test("centroidAssign agrees with a driver-side brute force on random data") {
    val rnd = new scala.util.Random(99)
    val pts = Seq.tabulate(300)(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val cents = Seq.tabulate(7)(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    def q(x: Float): Long = {
      val v = x.toDouble * 10000
      if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
    }
    val expect = pts.map { case (id, v) =>
      val best = cents.map { case (cid, c) =>
        (v.zip(c).map { case (x, y) => q(x) * q(y) }.sum, cid)
      }.maxBy { case (dot, cid) => (dot, -cid) }
      id -> (best._2, best._1)
    }.toMap
    val got = Similarity.centroidAssign(
        pts.toDF("vec_id", "embedding"), "vec_id", "embedding",
        cents.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("quantizedVecSum: exact component sums, merge-correct, ragged fails") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(500)(i => (i % 3, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    def q(x: Float): Long = {
      val v = x.toDouble * 10000
      if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
    }
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2.map(q)).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
    }
    // repartition forces real partials + merges across 13 partitions
    val out = rows.toDF("g", "v").repartition(13)
      .groupBy("g").agg(Similarity.quantizedVecSum($"v").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(out == expect.map { case (k, v) => k -> v.toSeq })
    // map-side partial aggregation must be in the plan (two agg levels)
    val plan = rows.toDF("g", "v").groupBy("g")
      .agg(Similarity.quantizedVecSum($"v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
    assert("partial_quantized_vec_sum".r.findFirstIn(plan).isDefined, plan)
    // ragged dims in one group fail loud
    val ragged = Seq((1, Seq(1f, 2f)), (1, Seq(1f, 2f, 3f))).toDF("g", "v")
    val err = intercept[Exception] {
      ragged.groupBy("g").agg(Similarity.quantizedVecSum($"v")).collect()
    }
    assert(err.getMessage != null)
  }

  test("centroidAssign routes to the max-dot centroid, lowest id on ties") {
    val pts = Seq(
      (100L, Seq(1f, 0f)), // → centroid 0
      (101L, Seq(0f, 1f)), // → centroid 1
      (102L, Seq(1f, 1f))  // tie between 0 and 1 → lowest id 0
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.centroidAssign(pts, "vec_id", "embedding",
      cents, "vec_id", "embedding")
    // broadcast nested-loop replicate + partial-agg collapse: the plan
    // must carry the broadcast, not a shuffled join of points×K rows
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 0L, 101L -> 1L, 102L -> 0L))
  }

  test("null inputs, mismatched lengths, zero norms → NULL") {
    val df = Seq(
      (Some(Seq(1f, 2f)), None),
      (Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))),
      (Some(Seq(0f, 0f)), Some(Seq(1f, 2f)))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("registered as SQL function cosine_similarity") {
    GraftSession.install(spark)
    val v = spark.sql(
      "SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)))").head().getDouble(0)
    assert(v == 1.0)
  }

  test("IVF: bucketized layout partition-prunes to the probed cells " +
       "and recalls clustered neighbors exactly") {
    // 4 tight clusters around orthogonal axes — the shape IVF exists for
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float]): Seq[Float] =
      base.zipWithIndex.map { case (b, _) => b + (rnd.nextFloat() - 0.5f) * 0.1f }.toSeq
    val axes = Array.tabulate(4) { c =>
      Array.tabulate(8)(d => if (d == c * 2) 1.0f else 0.0f)
    }
    val rows = (0 until 100).map { i =>
      (i.toLong, jitter(axes(i % 4)))
    }
    val emb = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4)
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_ivf_spec").getPath
    Similarity.ivfBucketize(emb, "vec_id", "embedding", cents, path)
    val q = rows.find(_._1 == 0L).get._2.toArray // a cluster-0 member
    val top = Similarity.ivfTopK(spark, path, "vec_id", "embedding", q,
      k = 10, cents, nProbe = 1)
    // plan: scan must carry a partition filter on the bucket column
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition filter in:\n$plan")
    val got = top.collect().map(_.getLong(0)).toSet
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == exact, "nProbe=1 on clustered data must recall exactly")
    // pruning is real: only 1 of 4 cell directories is read
    val scan = top.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    top.count()
    assert(scan.metadata("PartitionFilters").contains("bucket"))
  }

  test("persisted LSH layout partition-prunes and agrees with in-memory lshTopK") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    }
    val emb = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_lsh_spec").getPath
    Similarity.lshBucketize(emb, "vec_id", "embedding", path, planes = 4)
    val q = rows(3)._2.toArray
    val persisted = Similarity.lshTopKPersisted(spark, path, "vec_id",
      "embedding", q, k = 10, planes = 4)
    // the scan must prune on the bucket partition column
    val scan = persisted.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("bucket"),
      s"expected bucket partition filter, got: ${scan.metadata}")
    // same candidates, same ranking as the in-memory form
    val mem = Similarity.lshTopK(emb, "vec_id", "embedding", q, k = 10,
      planes = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val per = persisted.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(per == mem)
  }

  test("ivfProbes orders cells by query affinity; bucket ids are stable") {
    val cents = Array(
      Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(-1.0f, 0.0f))
    assert(Similarity.ivfProbes(Array(0.9f, 0.1f), cents, 2) == Seq(0, 1))
    assert(Similarity.ivfProbes(Array(-1.0f, 0.01f), cents, 1) == Seq(2))
    val df = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(-0.9f, 0.2f)))
      .toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    val got = df.select($"id",
      Similarity.ivfBucket($"v", cents).as("b")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 2))
  }

  test("interpreted path (nullSafeEval) agrees with codegen") {
    // force interpreted evaluation by evaluating the expression directly
    val e = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1f, 2f, 3f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(3f, 2f, 1f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    val interp = e.eval(null).asInstanceOf[Double]
    val expected = (3.0 + 4.0 + 3.0) / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(interp - expected) < 1e-12)
  }

  /** A random 60-row corpus with a small vocabulary of component
    * values, so score TIES actually occur and the (score DESC, id ASC)
    * tie-break is exercised; its first 7 rows are the queries. */
  private def knnFixture() = {
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextInt(3).toFloat - 1f))).toDF("vec_id", "embedding")
    (corpus.where($"vec_id" < 7), corpus)
  }

  /** Per-query brute force through the independently-tested cosineTopK
    * path (self excluded the same way knnJoin excludes it). */
  private def knnBruteForce(corpus: org.apache.spark.sql.DataFrame,
      qids: Seq[Long], k: Int): Set[(Long, Long, Int)] = {
    val rows = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    qids.flatMap { qid =>
      val c = corpus.where($"vec_id" =!= qid)
      Similarity.cosineTopK(c, "vec_id", "embedding", rows(qid), k)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.toSet
  }

  test("knnJoin matches per-query brute force (randomized, with ties)") {
    val (queries, corpus) = knnFixture()
    val got = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == knnBruteForce(corpus, 0L until 7L, 4))
  }

  test("knnJoin with a 2-entry heap budget flushes and still matches brute force") {
    // a budget of 2 live entries flushes the per-partition heaps almost
    // every row; the flushed supersets must re-cut to the same ranks
    val (queries, corpus) = knnFixture()
    val got = Similarity.knnJoin(queries, corpus.repartition(3),
        "vec_id", "embedding", k = 4, budget = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == knnBruteForce(corpus, 0L until 7L, 4))
  }

  test("knnJoin rejects duplicate query ids instead of pooling heaps") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val dupQueries = corpus.union(corpus.where($"vec_id" === 1))
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnJoin(dupQueries, corpus, "vec_id", "embedding", k = 2)
    }
    assert(ex.getMessage.contains("unique"))
  }

  test("knnJoin with k larger than the corpus returns everything ranked") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnJoin(corpus.where($"vec_id" === 1), corpus,
        "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    // query 1 = (1,0): cos(3)=1/sqrt(2) ~ 0.707 > cos(2)=0
    assert(got == Set((3L, 1), (2L, 2)))
  }

  test("knnJoin fails loud on ids that are not castable to long") {
    val corpus = Seq(
      ("a", Seq(1f, 0f)), ("b", Seq(0f, 1f)), ("c", Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    // a string-id corpus used to null out under cast("long") and return
    // an EMPTY result with every guard vacuously green
    val ex = intercept[Exception] {
      Similarity.knnJoin(corpus, corpus, "vec_id", "embedding", k = 2)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("not castable to long")))
  }

  test("knnJoin excludes NaN scores uniformly (heap vs window ordering)") {
    // corpus row 9 carries a NaN component: its cosine vs anything is
    // NaN, which the heap ordering treats as WORST but the window's
    // score DESC would rank FIRST — it must simply never appear
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)),
      (9L, Seq(Float.NaN, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnJoin(corpus.where($"vec_id" === 1), corpus,
        "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((2L, 1), (3L, 2)))
  }

  test("knnJoin size-gates the query broadcast and fails with a remedy") {
    val corpus = (0L until 50L).map(i =>
      (i, Seq.fill(8)(i.toFloat))).toDF("vec_id", "embedding")
    val conf = graft.operators.Dedup.TestBroadcastMaxBytesConf
    spark.conf.set(conf, "1") // 1 byte: everything is oversized
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.knnJoin(corpus, corpus, "vec_id", "embedding", k = 2)
      }
      assert(ex.getMessage.contains("broadcast"))
    } finally spark.conf.unset(conf)
  }

  test("semanticDedup: chain prunes transitively-greedily, clusters shard") {
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // cluster A around 0°: 10 survives; 11 (20° — cos 0.94 vs 10) pruned;
    // 12 (40°) is NOT a dup of 10 (cos 0.77) but IS of 11 → pruned too
    // (greedy lower-id prune, the SemDeDup semantics). cluster B around
    // 180°: 20 survives, its 200° near-copy 21 pruned — and no cross-
    // cluster pair is ever compared.
    val pts = Seq(10L -> at(0), 11L -> at(20), 12L -> at(40),
      20L -> at(180), 21L -> at(200)).toDF("vec_id", "embedding")
    val cents = Seq(0L -> at(10), 1L -> at(190)).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(pts, "vec_id", "embedding",
        cents, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 0L), (20L, 1L)))
  }

  test("semanticDedup: maxClusterSize skips the hot cluster, keeps members") {
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // cluster 0 is a planted hot cluster: 4 near-identical members the
    // pair expansion would collapse to one; cluster 1 is small with one
    // prunable dup. cap = 3 skips cluster 0's expansion entirely (all
    // 4 members kept — surfaced by their shared cluster_id) while
    // cluster 1 still dedups.
    val pts = Seq(10L -> at(0), 11L -> at(1), 12L -> at(2), 13L -> at(3),
      20L -> at(180), 21L -> at(181)).toDF("vec_id", "embedding")
    val cents = Seq(0L -> at(1), 1L -> at(180)).toDF("vec_id", "embedding")
    def run(cap: Long) = Similarity.semanticDedup(pts, "vec_id",
        "embedding", cents, "vec_id", "embedding", threshold = 0.9,
        maxClusterSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(3L) ==
      Set((10L, 0L), (11L, 0L), (12L, 0L), (13L, 0L), (20L, 1L)))
    // cap off: the hot cluster collapses to its lowest id as before
    assert(run(Long.MaxValue) == Set((10L, 0L), (20L, 1L)))
    // the profile is the sizing input: one row per non-empty cluster
    val prof = Similarity.semanticClusterProfile(pts, "vec_id",
        "embedding", cents, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prof == Set((0L, 4L), (1L, 2L)))
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(pts, "vec_id", "embedding", cents,
        "vec_id", "embedding", threshold = 0.9, maxClusterSize = 0L)
    }
  }

  test("semanticDedup agrees with a driver-side brute force on random data") {
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(200)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    // planted near-copies (last element damped) so the prune path is
    // genuinely exercised: cos ≈ 0.97+, same cluster almost always
    val near = base.take(50).map { case (id, v) =>
      (id + 1000L, v.init :+ v.last * 0.9f)
    }
    val pts = base ++ near
    val cents = Seq.tabulate(5)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    def q(x: Float): Long = {
      val v = x.toDouble * 10000
      if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
    }
    // same operation order as the compiled kernel → identical doubles
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val thr = 0.8
    val assign = pts.map { case (id, v) =>
      id -> cents.map { case (cid, c) =>
        (v.zip(c).map { case (x, y) => q(x) * q(y) }.sum, cid)
      }.maxBy { case (dot, cid) => (dot, -cid) }._2
    }.toMap
    val byId = pts.toMap
    val expect = pts.collect { case (id, _)
      if !pts.exists { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && r6(cos(ov, byId(id))) >= thr
      } => (id, assign(id))
    }.toSet
    val got = Similarity.semanticDedup(pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
  }

  test("kmeansIterate agrees with a driver-side exact Lloyd step") {
    val rnd = new scala.util.Random(13)
    val pts = Seq.tabulate(300)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val cents = pts.take(4)
    def q(x: Float): Long = {
      val v = x.toDouble * 10000
      if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
    }
    val assign = pts.map { case (id, v) =>
      id -> cents.map { case (cid, c) =>
        (v.zip(c).map { case (x, y) => q(x) * q(y) }.sum, cid)
      }.maxBy { case (dot, cid) => (dot, -cid) }._2
    }.toMap
    val expect = pts.groupBy { case (id, _) => assign(id) }
      .flatMap { case (cid, members) =>
        val n = members.size.toLong
        (0 until 8).map { d =>
          val sum = members.map { case (_, v) => q(v(d)) }.sum
          val mean = BigDecimal(sum.toDouble / n)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (cid, d.toLong) -> ((mean, n))
        }
      }
    val got = Similarity.kmeansIterate(pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expect)
  }
}
