package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * - [[cosineTopK]]: brute-force exact top-k — linear scan, computed with
 *   codegen'd array expressions and collected via TakeOrderedAndProject
 *   (per-partition top-k + driver merge of k·P rows, no global sort
 *   shuffle). The correctness baseline.
 * - [[lshTopK]]: sign-random-projection LSH — candidates share the query's
 *   hyperplane-sign bucket (probing all 1-bit neighbors for recall), then
 *   exact re-rank within candidates. The in-memory form computes buckets
 *   per query (a full scan — fine for repeated in-session queries over a
 *   cached corpus); at 100 TB use [[lshBucketize]] + [[lshTopKPersisted]],
 *   which make the bucket a parquet partition key so the scan prunes to
 *   the probed buckets instead of reading the corpus.
 */
object Similarity {

  /** Dot product of two equal-length float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — backed by the codegen'd [[graft.functions.CosineSimilarity]]
    * expression (one fused loop, no intermediate arrays; the declarative
    * zip_with/aggregate form is ~10× slower per row). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(a),
        org.apache.spark.sql.GraftSqlShim.lazyExpression(b)))

  /** Exact top-k rows by cosine similarity to `query`. Deterministic
    * tie-break on id. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedlit(query.toSeq)
    emb.select(col(idCol), cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Exact integer dot product of quantized embeddings — the
    * cross-engine-deterministic similarity (see
    * [[graft.functions.QuantizedDot]]). */
  def quantizedDot(a: Column, b: Column, scale: Int = 10000): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.QuantizedDot(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(a),
        org.apache.spark.sql.GraftSqlShim.lazyExpression(b), scale))

  /** Element-wise quantized vector-sum AGGREGATE (mean-pool / centroid
    * building block; see [[graft.functions.QuantizedVecSum]]) — exact
    * Long component sums, order-independent, map-side partial-agg. */
  def quantizedVecSum(vec: Column, scale: Int = 10000): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.QuantizedVecSum(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(vec), scale)
        .toAggregateExpression())

  /**
   * Nearest-centroid assignment — the routing step of embedding-space
   * clustering (corpus bucketing for mixture balancing, semantic dedup
   * sharding, topic quotas). Each point gets the centroid with the
   * maximal QUANTIZED integer dot product (ties → lowest centroid id),
   * so the assignment is exactly reproducible on any engine — a
   * float argmax can flip on near-ties between engines/runs.
   *
   * Returns `(idCol, cluster_id, dot_q)`.
   *
   * Scale shape: centroids broadcast (K rows — K is user-chosen and
   * small); the corpus replicates each row K ways MAP-SIDE through the
   * broadcast nested-loop join, and the per-point argmax collapses back
   * to one row per point in the partial (map-side) aggregation — the
   * shuffle carries |points| single rows, never |points|·K, and the
   * corpus embedding column itself never rides a shuffle. Centroids
   * come from the caller ([[trainCentroids]] for sampled k-means, or
   * any fixed reference set).
   */
  def centroidAssign(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      scale: Int = 10000): DataFrame = {
    val cents = broadcast(centroids
      .select(col(centIdCol).cast("long").as("cluster_id"),
        col(centVecCol).as("graft_cvec")))
    points.select(col(idCol), col(vecCol))
      .crossJoin(cents)
      .select(col(idCol), col("cluster_id"),
        quantizedDot(col(vecCol), col("graft_cvec"), scale).as("dot_q"))
      .where(col("dot_q").isNotNull)
      .groupBy(idCol)
      .agg(max_by(struct(col("cluster_id"), col("dot_q")),
        struct(col("dot_q"), -col("cluster_id"))).as("best"))
      .select(col(idCol), col("best.cluster_id").as("cluster_id"),
        col("best.dot_q").as("dot_q"))
  }

  /**
   * Semantic deduplication (SemDeDup, Abbas et al. 2023,
   * arXiv:2303.09540): route every point to its nearest centroid, then
   * WITHIN each cluster prune any point whose cosine similarity to a
   * lower-id cluster-mate reaches `threshold` — semantically-redundant
   * near-copies collapse to one representative without any global
   * pairwise pass. Assignment is the [[centroidAssign]] integer argmax
   * (engine-exact); the prune decision compares `round(cos, 6)` so
   * membership is identical across engines. Returns the survivors as
   * `(id, cluster_id)`.
   *
   * Scale shape: the global near-dup problem is sharded by the
   * clustering — the only pairwise work is per-cluster, and cluster
   * sizes are controlled by K (the paper uses K ≈ N/10⁴ on LAION).
   * Plan: one broadcast-NLJ + map-side argmax for assignment (the
   * embedding column rides through the partial agg, no re-join), one
   * cluster_id-keyed shuffle into the self-join, and the per-cluster
   * pair expansion is |cluster|² — bounded by the K choice, never a
   * corpus crossJoin. A pathologically-hot cluster is a K-tuning
   * problem, same regime as a hot LSH bucket.
   */
  /** [[centroidAssign]] with the point's vector carried THROUGH the
    * argmax partial aggregation (`first` over K replicas of the same
    * value — deterministic): consumers that need the vector after
    * routing ([[semanticDedup]], [[kmeansIterate]]) would otherwise pay
    * an id-keyed shuffle of the whole embedding column to re-join it.
    * Returns `(idCol, cluster_id, __vec)`. */
  private def assignWithVec(points: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String, scale: Int): DataFrame = {
    val cents = broadcast(centroids
      .select(col(centIdCol).cast("long").as("cluster_id"),
        col(centVecCol).as("graft_cvec")))
    points.select(col(idCol), col(vecCol))
      .crossJoin(cents)
      .select(col(idCol), col(vecCol), col("cluster_id"),
        quantizedDot(col(vecCol), col("graft_cvec"), scale).as("dot_q"))
      .where(col("dot_q").isNotNull)
      .groupBy(idCol)
      .agg(max_by(struct(col("cluster_id"), col("dot_q")),
          struct(col("dot_q"), -col("cluster_id"))).as("best"),
        first(col(vecCol)).as("__vec"))
      .select(col(idCol), col("best.cluster_id").as("cluster_id"),
        col("__vec"))
  }

  def semanticDedup(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      threshold: Double, scale: Int = 10000,
      maxClusterSize: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    require(maxClusterSize >= 1,
      s"maxClusterSize must be >= 1 (got $maxClusterSize)")
    val assigned = assignWithVec(points, idCol, vecCol,
      centroids, centIdCol, centVecCol, scale)
    // `maxClusterSize` is the hot-cluster guard, the same contract as
    // [[graft.operators.Dedup.lshCandidatePairs]]'s `maxBucketSize`:
    // the per-cluster pair expansion is |cluster|² and one degenerate
    // cluster (a collapsed centroid, a boilerplate-dominated corpus)
    // is a single-task quadratic no AQE split can rescue (the skew is
    // in the join OUTPUT). Clusters above the cap skip the expansion —
    // every member is KEPT, surfaced by cluster_id in the result (and
    // sized in advance via [[semanticClusterProfile]]); default off.
    // The size frame is ≤ |centroids| rows, so the membership filter
    // is a broadcast join, never an exchange of the points.
    val inPlay =
      if (maxClusterSize == Long.MaxValue) assigned
      else assigned.join(broadcast(
        assigned.groupBy("cluster_id").agg(count(lit(1)).as("__csz"))
          .where(col("__csz") <= maxClusterSize)
          .select("cluster_id")), Seq("cluster_id"))
    val a = inPlay.select(col("cluster_id"), col(idCol).as("__id1"),
      col("__vec").as("__v1"))
    val b = inPlay.select(col("cluster_id"), col(idCol).as("__id2"),
      col("__vec").as("__v2"))
    val pruned = a.join(b, Seq("cluster_id"))
      .where(col("__id1") < col("__id2") &&
        round(cosine(col("__v1"), col("__v2")), 6) >= threshold)
      .select(col("__id2").as(idCol))
      .distinct()
    assigned.join(pruned, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }

  /** Cluster-size profile of the centroid routing in [[semanticDedup]]:
    * `(cluster_id, n_points)`, one row per non-empty cluster — the
    * sizing input for its `maxClusterSize` guard (pair volume is
    * Σ C(n_points, 2); pick the cap just above the knee). Same
    * broadcast-argmax assignment as the dedup, then one ≤ |centroids|-
    * row aggregate — no pair is ever materialized. */
  def semanticClusterProfile(points: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String, scale: Int = 10000): DataFrame =
    assignWithVec(points, idCol, vecCol,
        centroids, centIdCol, centVecCol, scale)
      .groupBy("cluster_id").agg(count(lit(1)).as("n_points"))

  /**
   * One Lloyd (k-means) iteration over quantized embeddings — the
   * corpus-clustering refinement step (topic bucketing, SemDeDup
   * sharding, IVF retraining), engine-exact: route every point to its
   * nearest centroid by the INTEGER quantized dot, then rebuild each
   * centroid as the member mean in quantized space. `mean_q =
   * round(sum_q / n)` where `sum_q` is the exact Long component sum
   * ([[QuantizedVecSum]]) — the division result is the same IEEE double
   * everywhere and round() is half-away-from-zero in both engines, so
   * the updated centroids are bit-identical on any engine, partitioning
   * or cluster size (a float mean drifts with summation order).
   * Returns `(cluster_id, dim, mean_q, n_points)`; empty clusters
   * produce no rows (standard Lloyd drop-or-reseed policy is the
   * caller's choice).
   *
   * Scale shape: broadcast-NLJ assignment with the vector carried
   * through the map-side argmax (no id-keyed re-join of the embedding
   * column), then ONE cluster_id-keyed shuffle of map-side partial
   * vector sums — K·dim longs per task, never the points. Driver holds
   * nothing; iterate by feeding the output back as centroids.
   */
  def kmeansIterate(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      scale: Int = 10000): DataFrame =
    assignWithVec(points, idCol, vecCol,
        centroids, centIdCol, centVecCol, scale)
      .groupBy("cluster_id")
      .agg(quantizedVecSum(col("__vec"), scale).as("__sum_q_vec"),
        count(lit(1)).as("n_points"))
      .select(col("cluster_id"), col("n_points"),
        posexplode(col("__sum_q_vec")).as(Seq("dim", "sum_q")))
      .select(col("cluster_id"), col("dim").cast("long").as("dim"),
        round(col("sum_q") / col("n_points"), 0).cast("long").as("mean_q"),
        col("n_points"))

  /** Exact batched k-NN JOIN: the top-`k` corpus rows by cosine for
    * EVERY query row at once (rows whose ids collide are excluded as
    * self-pairs), ranked deterministically (score DESC, id ASC).
    * Returns `(query_id, vec_id, rank)`.
    *
    * Scale shape (many queries × huge corpus): the query set
    * broadcasts into a map-side scoring pass over the corpus — the
    * corpus never shuffles — then each corpus partition keeps only its
    * local top-k per query in the bounded heaps of
    * [[TopK.topKPerKey]], so the only shuffle is ≤ |queries|·k rows
    * per partition (the final per-query window ranks those survivors),
    * never the |queries|·|corpus| score matrix. Per-task heap memory
    * is at most |queries in partition|·k entries and never more than
    * the helper's live-entry budget: past it the heaps flush their
    * supersets downstream. Ids are cast to long (integral ids
    * required). */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    knnJoin(queries, corpus, idCol, vecCol, k, TopK.DefaultBudget)

  /** [[knnJoin]] with the per-task heap budget of [[TopK.topKPerKey]]
    * set explicitly (specs force flushes with a tiny one). */
  private[graft] def knnJoin(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, budget: Long): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    // FAIL-LOUD id cast: the heaps key on long ids, and a non-castable
    // id (a string-id corpus, say) silently nulling out would yield an
    // empty result with every guard vacuously green. try_cast + a
    // per-row raise_error turns the first bad id into a clear error at
    // zero extra passes; genuinely-NULL ids are still dropped (they
    // could never join or be ranked).
    def idLoud(side: String): Column =
      when(col(idCol).isNotNull && col(idCol).try_cast("long").isNull,
        raise_error(concat(
          lit(s"knnJoin $side id '$idCol' is not castable to long: "),
          col(idCol).cast("string"))))
        .otherwise(col(idCol).try_cast("long"))
    // The checkpoint evaluates the (possibly derived) query pipeline
    // ONCE for both the uniqueness check and the broadcast; the
    // retained blocks are freed below once the (tiny) result is
    // materialized.
    val q = queries.select(idLoud("query").as("qid"), col(vecCol).as("qv"))
      .where(col("qid").isNotNull)
      .localCheckpoint()
    // the map-side-scoring design REQUIRES the query side to broadcast
    // (the join is a theta join — without the broadcast it degenerates
    // to a nested-loop over the corpus). Same size gate as the
    // decontamination ops; an oversized batch fails loud with the
    // remedy instead of OOMing the driver.
    if (!graft.operators.Dedup.smallEnoughToBroadcast(q)) {
      org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(q)
      throw new IllegalArgumentException(
        "knnJoin query batch exceeds " +
          s"${graft.operators.Dedup.TestBroadcastMaxBytesConf}: the " +
          "query side must broadcast into the map-side scoring pass. " +
          "Split the batch into smaller calls, or raise the conf.")
    }
    // the partial top-k heaps key on the CAST query id: duplicate ids
    // (or distinct fractional ids that cast to the same long) would
    // silently pool two queries' candidates into one k-bounded ranking
    // — fail loud instead. The query side is the small (broadcast)
    // side, so the check is one cheap aggregation.
    val qa = q.agg(count(lit(1)).as("rows"),
      count_distinct(col("qid")).as("ids")).head()
    require(qa.getLong(0) == qa.getLong(1),
      s"knnJoin query ids must be unique after cast to long " +
        s"(${qa.getLong(0)} rows, ${qa.getLong(1)} distinct ids)")
    val c = corpus.select(idLoud("corpus").as("cid"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        cosine(col("cv"), col("qv")).as("score"))
      // cosine is NULL on zero-norm / NULL / length-mismatched vectors
      // and NaN on NaN/Inf components: neither is a meaningful
      // similarity, so both are excluded rather than ranked
      .where(col("score").isNotNull && !isnan(col("score")))
    val result = TopK.topKPerKey(scored, "qid", "score", "cid", k, budget)
      .select(col("qid").as("query_id"), col("cid").as("vec_id"),
        col("rank"))
      // EAGER final checkpoint (≤ |queries|·k rows — tiny) so the query
      // frame's blocks can be freed deterministically here instead of
      // accumulating across calls until GC-driven cleanup; the scoring
      // pass runs exactly once either way
      .localCheckpoint()
    org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(q)
    result
  }

  /** Sign-random-projection bucket id from `planes` pseudo-random
    * hyperplanes — compiled kernel (see [[graft.functions.SrpBucket]]);
    * plane components are ±1 from mix64(plane·dim + dim) parity —
    * deterministic, no stored model, identical on every executor. */
  def srpBucket(vec: Column, planes: Int, dim: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.SrpBucket(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(vec), planes, dim))

  /** Driver-side twin of [[srpBucket]] for query vectors. */
  def srpBucketOf(vec: Array[Float], planes: Int): Long = {
    val dim = vec.length
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < dim) {
        val x = vec(d).toDouble
        if ((graft.functions.HashKernels.mix64(p.toLong * dim + d) & 1L) != 0L)
          s += x
        else s -= x
        d += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Approximate top-k: candidates = rows whose SRP bucket equals the
    * query's bucket or differs in exactly one bit (multi-probe), exact
    * cosine re-rank within candidates. The probe bucket set is computed
    * once on the driver and shipped as a literal.
    *
    * NOTE: hyperplane LSH needs angularly-close neighbors to recall well;
    * on weakly-clustered embeddings prefer the IVF path below, whose
    * probe breadth is tunable independently of dimensionality. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, planes: Int = 8): DataFrame = {
    val dim = query.length
    val q = typedlit(query.toSeq)
    val qBucket = srpBucketOf(query, planes)
    val probes = qBucket +: (0 until planes).map(b => qBucket ^ (1L << b))
    emb.select(col(idCol), col(vecCol),
        srpBucket(col(vecCol), planes, dim).as("bucket"))
      .where(col("bucket").isInCollection(probes))
      .select(col(idCol), cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // ---- IVF (inverted file): the persisted-layout ANN scale path ---------
  //
  // train centroids once → write the corpus parquet PARTITIONED BY the
  // nearest-centroid cell → a query reads only its nProbe nearest cells
  // (Catalyst partition pruning: the probed cells are the only directories
  // scanned). At 100 TB this turns every query from a full corpus scan
  // into nProbe/k of it, and the layout is shared by all queries.

  /** Deterministic spherical k-means on a driver-side sample: kmeans++
    * seeding from mix64 streams, Lloyd iterations, unit-norm centroids
    * (so cell assignment = argmax dot). The sample is taken in `idCol`
    * order for reproducibility — at 100 TB you would hash-sample instead
    * (same downstream contract: k unit vectors). */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 10, sampleN: Int = 10000)
      : Array[Array[Float]] = {
    // NULL vectors are excluded up front: a null row in the sample would
    // otherwise NPE deep inside the collect().map chain
    val sample: Array[Array[Double]] = emb
      .where(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .map(normalized)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    // kmeans++ init, deterministic: distances weighted by 1 - dot.
    // `nearestDot(i)` tracks max dot against the centroids chosen so far,
    // updated incrementally — O(k·n·d) total instead of the from-scratch
    // O(k²·n·d) recompute (same values, same picks, ~k× less driver work).
    val centroids = new Array[Array[Double]](k)
    centroids(0) = sample(pick(0, sample.length))
    val nearestDot = Array.fill(sample.length)(Double.NegativeInfinity)
    var c = 1
    while (c < k) {
      var bestIdx = 0
      var bestScore = -1.0
      var i = 0
      while (i < sample.length) {
        val d = dot(sample(i), centroids(c - 1))
        if (d > nearestDot(i)) nearestDot(i) = d
        // farthest-from-all-chosen, jittered deterministically to avoid
        // degenerate picks on symmetric data
        val score = (1.0 - nearestDot(i)) *
          (0.5 + (graft.functions.HashKernels.mix64(c.toLong * 1000003 + i) >>> 11)
            .toDouble / (1L << 53).toDouble / 2.0)
        if (score > bestScore) { bestScore = score; bestIdx = i }
        i += 1
      }
      centroids(c) = sample(bestIdx)
      c += 1
    }
    // Lloyd: assign to max-dot centroid, recenter, renormalize
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < sample.length) {
        var best = 0; var bestDot = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          val s = dot(sample(i), centroids(j))
          if (s > bestDot) { bestDot = s; best = j }
          j += 1
        }
        var d = 0
        while (d < dim) { sums(best)(d) += sample(i)(d); d += 1 }
        counts(best) += 1
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) centroids(j) = normalized(sums(j))
        j += 1
      }
      it += 1
    }
    centroids.map(_.map(_.toFloat))
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    if (n == 0) v else v.map(_ / n)
  }

  private def pick(stream: Long, bound: Int): Int =
    java.lang.Long.remainderUnsigned(
      graft.functions.HashKernels.mix64(stream), bound).toInt

  /** IVF cell id column (compiled kernel, [[graft.functions.IvfBucket]]). */
  def ivfBucket(vec: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.IvfBucket(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(vec),
        // immutable Seqs: expression equality stays structural (Catalyst
        // canonicalization breaks on Array's referential equals)
        centroids.map(_.toIndexedSeq).toIndexedSeq))

  /** The query's nProbe nearest cells, by centroid dot product (driver
    * twin of [[ivfBucket]]). */
  def ivfProbes(query: Array[Float], centroids: Array[Array[Float]],
      nProbe: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    // truncate to the shorter operand like the IvfBucket kernel does —
    // a longer query must not index past a centroid's end
    def boundedDot(c: Array[Float]): Double = {
      val n = math.min(qd.length, c.length)
      var s = 0.0; var i = 0
      while (i < n) { s += qd(i) * c(i); i += 1 }
      s
    }
    centroids.indices
      .sortBy(c => -boundedDot(centroids(c)))
      .take(math.min(nProbe, centroids.length))
  }

  /** Write the corpus partitioned by IVF cell: one directory per cell, so
    * reads against this layout partition-prune to the probed cells.
    * Shuffle partition count = max(cells, session parallelism): each cell
    * lands on one writer task (hash-routed), so every directory gets one
    * file and no task pays the dynamic-partition multi-file sort — 3-4×
    * faster than funneling 64 cells through fewer writer tasks. */
  def ivfBucketize(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], path: String): Unit = {
    val parts = math.max(centroids.length,
      emb.sparkSession.sessionState.conf.numShufflePartitions)
    emb.select(col(idCol), col(vecCol),
        ivfBucket(col(vecCol), centroids).as("bucket"))
      .repartition(parts, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Approximate top-k against a bucketized layout: scans ONLY the
    * query's nProbe nearest cells (partition pruning — assert
    * `PartitionFilters` on the scan), exact cosine re-rank within them. */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      centroids: Array[Array[Float]], nProbe: Int = 6): DataFrame = {
    val probes = ivfProbes(query, centroids, nProbe)
    val q = typedlit(query.toSeq)
    spark.read.parquet(path)
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // ---- persisted SRP-LSH layout: lshTopK's scale path -------------------
  //
  // Same layout contract as IVF, with the hyperplane-sign bucket as the
  // partition key: 2^planes directories, queries prune to the query
  // bucket and its 1-bit neighbors (planes + 1 of 2^planes directories)
  // instead of scanning the corpus. Training-free (no centroids to fit or
  // ship) at the cost of IVF's tunable probe breadth.

  /** Write the corpus partitioned by SRP-LSH bucket. `planes` sets the
    * directory count (2^planes) — keep it <= 12; more planes than that
    * means degenerate directory counts AND vanishing per-bucket recall.
    * Writer parallelism mirrors [[ivfBucketize]]: each bucket hash-routes
    * to one writer task. */
  def lshBucketize(emb: DataFrame, idCol: String, vecCol: String,
      path: String, planes: Int = 8): Unit = {
    require(planes >= 1 && planes <= 12,
      s"planes must be in [1, 12] (got $planes): 2^planes directories")
    // head(1), not head(): fail an empty corpus with a clear message
    // instead of an opaque NoSuchElementException (cf. embeddingDupPairs);
    // the isNotNull filter stops a NULL first vector from inferring a
    // nonsense dim (size(NULL) = -1 ⇒ every row in bucket 0)
    val dimRow = emb.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(dimRow.nonEmpty,
      "lshBucketize: empty corpus — nothing to bucketize")
    val dim = dimRow(0).getInt(0)
    val parts = math.max(1 << planes,
      emb.sparkSession.sessionState.conf.numShufflePartitions)
    emb.select(col(idCol), col(vecCol),
        srpBucket(col(vecCol), planes, dim).as("bucket"))
      .repartition(parts, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** [[lshTopK]] against a [[lshBucketize]]d layout: scans only the
    * query's bucket and its 1-bit neighbors (partition pruning), exact
    * cosine re-rank within them. */
  def lshTopKPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, query: Array[Float],
      k: Int, planes: Int = 8): DataFrame = {
    val qBucket = srpBucketOf(query, planes)
    val probes = qBucket +: (0 until planes).map(b => qBucket ^ (1L << b))
    val q = typedlit(query.toSeq)
    spark.read.parquet(path)
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // --------------------------------------------------------------------
  // Product quantization (PQ) — the 100-TB ANN MEMORY path: a d-dim
  // float vector (d·4 bytes) compresses to m small codes (m bytes at
  // k ≤ 256), so a corpus whose raw embeddings are 25 TB scans as
  // ~0.8 TB of codes; distances are then looked up per subspace from a
  // precomputed table (ADC — asymmetric distance computation) instead
  // of touching any float vector. All arithmetic is QUANTIZED-integer
  // (round(x·scale) as Long, the [[quantizedDot]] rule), so encoding,
  // the distance table, and the final ranking are exact integers —
  // reproducible on any engine and directly replayable by the SQL
  // oracle. Squared L2 in quantized space comes from the polarization
  // identity q(a,b) = q(a,a) + q(b,b) − 2·a·b, which is EXACT in
  // integer arithmetic — three fused-codegen [[quantizedDot]] calls,
  // no new kernel.
  // --------------------------------------------------------------------

  /** `(__id, j, sv)`: each point split into its `m` contiguous
    * subvectors (j = 0..m−1). Pure map-side: the explode multiplies row
    * COUNT by m but total vector bytes are unchanged. */
  private def subvectors(points: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    points.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .select(col("__id"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("__v"))
      .select(col("__id"), col("j"),
        slice(col("__v"), col("j") * (size(col("__v")) / m) + 1,
          size(col("__v")) / m).as("sv"))

  /** Exact quantized squared-L2 distance Σ (q(aᵢ) − q(bᵢ))² via the
    * integer polarization identity. */
  private def qdist(a: Column, b: Column): Column =
    quantizedDot(a, a) + quantizedDot(b, b) - lit(2L) * quantizedDot(a, b)

  /** PQ codebook from a reference point set: centroid `cid` of subspace
    * `j` is reference point cid's j-th subvector — the fixed-reference
    * construction the oracle can replay (swap in per-subspace k-means
    * ([[kmeansIterate]] over [[subvectors]]) for trained codebooks; the
    * encode/ADC machinery is codebook-agnostic). Returns `(j, cid,
    * cvec)` — m·k rows, broadcast-sized by construction. */
  def pqCodebook(refs: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    subvectors(refs, idCol, vecCol, m)
      .select(col("j"), col("__id").cast("long").as("cid"),
        col("sv").as("cvec"))

  /**
   * PQ-encode a corpus: every point becomes `(id, codes)` where
   * `codes[j]` is the nearest codebook centroid of subspace `j` by
   * quantized L2 (ties → lowest cid). This is the compression pass a
   * 100-TB pipeline runs ONCE at ingest; everything downstream ranks
   * against the codes.
   *
   * Scale shape: the codebook broadcasts (m·k rows); each point's m
   * subvectors meet all k centroids MAP-SIDE through the broadcast
   * join, and the per-(point, subspace) argmin collapses in the partial
   * aggregation — both shuffles carry m NARROW rows per point (id, j,
   * code), never a float vector: the embedding column itself stays
   * where it was read.
   */
  def pqEncode(points: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int): DataFrame =
    subvectors(points, idCol, vecCol, m)
      .join(broadcast(codebook), "j")
      .select(col("__id"), col("j"), col("cid"),
        qdist(col("sv"), col("cvec")).as("qd"))
      .where(col("qd").isNotNull)
      .groupBy("__id", "j")
      .agg(min_by(col("cid"), struct(col("qd"), col("cid"))).as("code"))
      .groupBy("__id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        s => s("code")).as("codes"))
      .select(col("__id").as(idCol), col("codes"))

  /** The ADC lookup table for one query: `(j, cid, qd)` = quantized L2
    * between the query's subvector j and codebook centroid (j, cid).
    * m·k rows — broadcast-sized however large the corpus is. */
  def pqLut(query: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int): DataFrame =
    subvectors(query, idCol, vecCol, m)
      .join(broadcast(codebook), "j")
      .select(col("j"), col("cid"), qdist(col("sv"), col("cvec")).as("qd"))

  /**
   * ADC top-k: rank the ENCODED corpus against a query using only the
   * lookup table — `dist_q(point) = Σ_j lut[j][codes[j]]`, no float
   * vector touched. Returns the k nearest `(id, dist_q)` (ascending
   * distance, ties → lowest id) as exact integers.
   *
   * Scale shape: codes explode to m narrow rows per point, meet the
   * broadcast LUT map-side, and re-collapse through the partial-agg
   * sum — one shuffle of single narrow rows per point, then
   * TakeOrdered's per-partition top-k (no global sort).
   */
  /**
   * Diversity-aware top-k selection — pick `k` high-scoring examples
   * that COVER the embedding space instead of crowding its densest
   * region (the fine-tuning-set selection problem; greedy MMR is the
   * classic serial answer, this is its distributed shard-and-rank
   * form): route every point to its nearest centroid (the exact
   * integer-argmax of [[centroidAssign]]), rank within each cluster by
   * (score DESC, id), and pick in (rank, cluster_id) order — every
   * cluster yields its best member before ANY cluster yields its
   * second, so the picked set is spread across all k' <= k occupied
   * cells by construction.
   *
   * Returns `(id, cluster_id, score, pick_order)`, pick_order 1..k.
   *
   * Scale shape: assignment is a broadcast crossJoin against the small
   * centroid set with a map-side-combined argmax; the in-cluster rank
   * window partitions by cluster (bounded partitions); the global
   * (rank, cluster) cut is sort+limit (`TakeOrderedAndProject` — k
   * rows to the driver-side merge, never a single-task full sort);
   * the final pick_order window runs over k rows.
   */
  def diverseTopK(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      scores: DataFrame, scoreIdCol: String, scoreCol: String,
      k: Int, scale: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    val assigned = centroidAssign(points, idCol, vecCol,
      centroids, centIdCol, centVecCol, scale)
      .select(col(idCol), col("cluster_id"))
    val scored = assigned.join(
      scores.select(col(scoreIdCol).as(idCol), col(scoreCol).as("score")),
      Seq(idCol))
    val inCluster = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rk", row_number().over(inCluster))
      .orderBy(col("rk"), col("cluster_id"))
      .limit(k)
      .withColumn("pick_order", row_number()
        .over(Window.orderBy(col("rk"), col("cluster_id"))).cast("long"))
      .drop("rk")
  }

  def pqAdcTopK(encoded: DataFrame, idCol: String, codesCol: String,
      lut: DataFrame, k: Int): DataFrame =
    encoded.select(col(idCol).as("__id"),
        posexplode(col(codesCol)).as(Seq("__j", "__code")))
      .join(broadcast(lut),
        col("__j") === col("j") && col("__code") === col("cid"))
      .groupBy("__id")
      .agg(sum(col("qd")).as("dist_q"))
      .orderBy(col("dist_q"), col("__id"))
      .limit(k)
      .select(col("__id").as(idCol), col("dist_q"))
}
