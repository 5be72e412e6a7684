package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for large-scale training-data
 * pipelines: exact (hash group-by), MinHash + LSH banding, SimHash, and
 * n-gram Jaccard verification.
 *
 * Scale design (100 TB): every candidate-generation path is a *bucketed
 * shuffle* — group by (band, bandHash) / (chunk, chunkValue) / text hash —
 * never an all-pairs crossJoin. Within-bucket pair expansion is quadratic
 * only in the bucket size, which LSH keeps small by construction. All
 * column logic uses built-in codegen'd functions (no UDFs).
 */
object Dedup {

  /** Lower-cased whitespace tokens. Empty tokens are dropped: `trim`
    * strips SPACES only, so text leading (or ending) with a tab or
    * newline makes the bare regex split emit phantom "" tokens, which
    * would shift every token index off the compiled kernels'
    * positions ([[graft.functions.WordHashing]] tokenizes the same
    * text with no phantoms) — span-level substring dedup indexes
    * tokens by kernel position, so the two layers must agree. */
  def words(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= lit(""))

  /** Distinct word n-gram shingles over an ALREADY-TOKENIZED word
    * array. Callers must pass a BOUND array (a projected column or a
    * lambda variable): higher-order lambdas evaluate interpreted with
    * no subexpression elimination, so an inline `words(text)` here
    * would re-run the regex split once per gram element (the q144
    * pathology — measured 2x a whole query's wall). */
  private[graft] def shinglesOfWords(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", ws)))

  /** Distinct word n-gram shingles; documents shorter than `n` words
    * collapse to a single whole-document shingle. The token array is
    * LET-BOUND through a single-element `transform` so the split runs
    * once per row even though the shingle lambda reads it per
    * element — the Column-expression form of the projection-boundary
    * rule (works anywhere a Column works, no projection needed). */
  def wordShingles(text: Column, n: Int = 3): Column =
    element_at(transform(array(words(text)),
      ws => shinglesOfWords(ws, n)), 1)

  /** Sorted distinct 64-bit shingle hashes in ONE compiled pass — the
    * preferred input to MinHash/SimHash/Jaccard (see
    * [[graft.functions.ShingleHashes]]; ~10× faster than the declarative
    * shingle-string pipeline). */
  def shingleHashes(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(text), n))

  /** MinHash signature over pre-hashed shingles — compiled kernel (see
    * [[graft.functions.MinHashSignature]]): min of salted splitmix64 mixes
    * per hash function, one double loop per document. */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int = 64): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(hashes), numHashes))

  /** MinHash signature from shingle STRINGS (compat form; prefer
    * [[shingleHashes]] + [[minhashSignatureFromHashes]]). */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column =
    minhashSignatureFromHashes(transform(shingles, s => xxhash64(s)), numHashes)

  private def cast_str(c: Column): Column = c.cast("string")

  /** LSH banding: split the signature into `bands` bands and hash each —
    * identical signatures land in identical buckets in every band
    * (recall 1 on exact duplicates), near-identical signatures collide in
    * at least one band with high probability. */
  def lshBands(signature: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(cast_str(slice(signature, b * rows + 1, lit(rows)))).as("bucket")))
  }

  /** `(id, sh)`: the sorted shingle hashes of every non-NULL `textCol`,
    * un-materialized (the train side of [[crossCorpusDupPairs]] must
    * never be stored). NULL texts all share one signature: kept, they
    * would fill one bucket per band and detonate the quadratic
    * within-bucket expansion. */
  private def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))

  /** [[shingles]], eagerly localCheckpointed: the one `(id, sh)` frame a
    * near-dup or containment pipeline reads. Materialization rule (the
    * bm25 re-tokenization trap, commit 6ec36cd): `sh` feeds several
    * subtrees (LSH, both verify lookups, the inverted index, the
    * probes), each of which would re-run the shingle kernel; the
    * checkpoint runs it once and stores (id, sorted-hash-array) rows. */
  private[graft] def shingleFrame(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    shingles(docs, idCol, textCol, n).localCheckpoint()

  /** `(id, band, bucket)` of an `(id, sh)` frame. The signature is its
    * own projection: lambdas skip subexpression elimination, and the
    * band lambda reads it once per band. */
  private def lshBuckets(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    sh.select(col("id"),
        minhashSignatureFromHashes(col("sh"), numHashes).as("sig"))
      .select(col("id"), explode(lshBands(col("sig"), numHashes, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bucket").as("bucket"))

  /** Within-bucket candidate pairs of an `(id, sh)` frame's LSH buckets
    * of at most `maxBucketSize` members. */
  private def lshPairs(sh: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    bucketPairs(lshBuckets(sh, numHashes, bands)
      .groupBy("band", "bucket")
      .agg(collect_list("id").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize))

  /**
   * Candidate duplicate pairs (id1 < id2) via MinHash-LSH banding.
   * Shuffle shape: explode bands → groupBy(band, bucket) → within-bucket
   * pair expansion → distinct. No crossJoin anywhere. NULL texts are
   * dropped before banding ([[shingles]]).
   *
   * `maxBucketSize` is the production guard against the one quadratic
   * term this shape has: within-bucket pair expansion. A bucket of m
   * near-identical docs (boilerplate, templated pages, licence headers —
   * or a synthetic `copies`-member family) emits C(m,2) pairs per band,
   * so candidate volume grows with the SQUARE of the largest dup-family
   * size even while the corpus itself grows linearly. Capped runs skip
   * buckets larger than the cap — the standard trade in large-corpus
   * dedup pipelines (oversized buckets are overwhelmingly boilerplate
   * whose members a later pass handles wholesale; dup pairs hidden
   * ONLY inside oversized buckets in every band are lost, which is the
   * documented recall cost. Lee et al. 2022, "Deduplicating Training
   * Data Makes Language Models Better", makes the same bound-the-bucket
   * argument for suffix-cluster expansion). The filter runs on the
   * already-aggregated bucket rows, so it adds ZERO exchanges; default
   * Int.MaxValue = off.
   */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    lshPairs(shingles(docs, idCol, textCol, shingleSize), numHashes, bands,
      maxBucketSize)

  /** Within-bucket candidate expansion shared by the MinHash and SRP
    * paths: explode each bucket's id list twice, keep ordered pairs,
    * distinct across buckets. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .where(col("id1") < col("id2"))
      .distinct()

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(1.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** The similarity-threshold check every near-dup operator shares. */
  private[graft] def requireThreshold(threshold: Double): Unit =
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1] (got $threshold)")

  /**
   * MinHash-LSH near-duplicate pairs, verified with exact n-gram Jaccard
   * >= `threshold`. One [[shingleFrame]] feeds both the LSH signatures
   * and the verification join (2 hash-joins on id — broadcastable when
   * docs is small, shuffle-on-id at scale).
   *
   * The threshold is DELIBERATELY applied to the 6-dp-rounded similarity
   * (here and in the cross-corpus/cosine variants): cross-engine float
   * reproduction of the raw ratio is not exact at the last bit, so
   * round-then-compare is what keeps a boundary pair's admit/reject
   * decision identical between this engine and an external checker —
   * the ±5e-7 threshold tolerance is the price of that determinism.
   */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    requireThreshold(threshold)
    minhashDupPairsFromHashes(
      shingleFrame(docs, idCol, textCol, shingleSize), threshold,
      numHashes, bands)
  }

  /** [[minhashDupPairs]] over an already-materialized `(id, sh)` frame
    * (the caller checks the threshold). */
  private[graft] def minhashDupPairsFromHashes(sh: DataFrame,
      threshold: Double, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    verifyJaccardPairs(sh, lshPairs(sh, numHashes, bands), threshold)

  /** Exact-Jaccard verification of candidate `(id1, id2)` pairs against
    * an `(id, sh)` frame, which both pair sides look up.
    * Jaccard over shingle-hash sets == Jaccard over shingle-string sets
    * (64-bit hashing is injective modulo negligible collisions). */
  private def verifyJaccardPairs(sh: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sh.withColumnRenamed("id", "id1").withColumnRenamed("sh", "sh1"), "id1")
      .join(sh.withColumnRenamed("id", "id2").withColumnRenamed("sh", "sh2"), "id2")
      .select(col("id1"), col("id2"),
        round(jaccard(col("sh1"), col("sh2")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /**
   * Train/test contamination detection: pairs `(train_id, test_id,
   * jaccard)` where a test document's n-gram content near-matches a
   * training document at `threshold` — the GPT-3/PaLM-style n-gram
   * overlap check, run as a cross-corpus LSH join instead of a scan.
   *
   * Scale shape (100 TB train, small eval sets — the decontamination
   * norm): each side computes banded MinHash buckets independently (one
   * compiled pass per side, no shuffle of full text); candidates come
   * from an equi-join on (band, bucket), where the tiny test side's
   * banded rows broadcast, so the train side never shuffles; exact
   * Jaccard verification joins shingle hashes back by id. Unlike the
   * self-join dedup path there is no id ordering constraint — every
   * (train, test) bucket collision is a candidate.
   */
  /** Conf: largest estimated test-corpus size (bytes, from optimizer
    * stats) the decontamination ops will broadcast. Above it they fall
    * back to plain shuffled equi-joins — identical result, no driver
    * OOM. Negative lifts the configured cap, not the driver's collect
    * limit ([[testBroadcastGate]]). */
  val TestBroadcastMaxBytesConf = "spark.graft.dedup.testBroadcastMaxBytes"
  private val TestBroadcastMaxBytesDefault: Long = 256L << 20

  /** Broadcast `df` only when the originating `gateOn` frame is under
    * [[TestBroadcastMaxBytesConf]]. The gate reads the SOURCE frame
    * (not the derived banded / exploded plan, whose estimates
    * explode-multiply) — the question is "is the eval corpus small",
    * and the broadcast sides are all bounded by it.
    *
    * Two tiers: the optimizer's size estimate is a free fast-accept,
    * but Spark's size-only estimator passes a parent scan's size
    * THROUGH filters, so a tiny eval slice of a large table estimates
    * at the full table's size. When the estimate alone would degrade,
    * spend ONE aggregation job over the gate frame (the test side
    * only — never the train side) measuring its actual bytes before
    * giving up the broadcast: wrongly degrading shuffles the entire
    * train corpus, which is orders of magnitude costlier than the
    * measurement. */
  private def broadcastIfSmall(df: DataFrame, gateOn: DataFrame): DataFrame =
    if (smallEnoughToBroadcast(gateOn)) broadcast(df) else df

  /** The gate DECISION alone — resolved once per operator invocation so
    * a degraded-estimate gate frame pays the measurement aggregation a
    * single time even when several broadcast sites share it
    * (crossCorpusDupPairs has three). Logs the degrade warning at
    * decision time. Also used by [[graft.operators.Similarity.knnJoin]]
    * to gate its query-side broadcast. */
  private[graft] def smallEnoughToBroadcast(gateOn: DataFrame): Boolean = {
    val thr = testBroadcastGate(gateOn.sparkSession)
    if (thr == Long.MaxValue) true
    else {
      val est = gateOn.queryExecution.optimizedPlan.stats.sizeInBytes
      val small = est <= thr || measuredBytes(gateOn) <= thr
      if (!small) {
        log.warn(s"graft: gate frame measured over the $thr-byte " +
          s"broadcast gate ($TestBroadcastMaxBytesConf, clamped to 80% " +
          "of spark.driver.maxResultSize); degrading broadcasts to " +
          "shuffled equi-joins (same result, the large side will " +
          "shuffle). Raise the conf (negative: up to the collect " +
          "limit) and spark.driver.maxResultSize to broadcast.")
      }
      small
    }
  }

  /** [[TestBroadcastMaxBytesConf]] as the session sets it (negative: no
    * configured cap), self-clamped to 80 % of
    * `spark.driver.maxResultSize` ([[broadcastCollectGate]]): a
    * broadcast collects its rows to the driver first, so a gate past
    * that limit would abort mid-broadcast instead of degrading to the
    * shuffled join. `Long.MaxValue` only when neither caps it. */
  private[graft] def testBroadcastGate(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val conf = spark.conf.get(TestBroadcastMaxBytesConf,
      TestBroadcastMaxBytesDefault.toString).toLong
    broadcastCollectGate(if (conf < 0) Long.MaxValue else conf,
      spark.conf.get("spark.driver.maxResultSize", "1g"))
  }

  /** Actual (estimated-per-row, exact-per-string) byte size of `df`:
    * one aggregation job summing fixed-type widths plus
    * `octet_length` of string/binary columns, +16 bytes/row row
    * overhead. Used by [[broadcastIfSmall]] as the second-tier gate. */
  private def measuredBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val fieldSizes = df.schema.fields.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L)) + lit(8L)
        case ArrayType(et, _) =>
          // element defaultSize is exact for fixed-width elements and a
          // rough floor for nested/variable ones — fine for a gate
          coalesce(size(col(f.name)).cast("long"), lit(0L)) *
            lit(et.defaultSize.toLong) + lit(16L)
        case dt => lit(dt.defaultSize.toLong)
      }
    }
    val rowSize = fieldSizes.reduceOption(_ + _).getOrElse(lit(0L)) + lit(16L)
    val r = df.select(sum(rowSize).as("bytes")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def crossCorpusDupPairs(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    requireThreshold(threshold)
    // one projection per side, never checkpointed: the train side must
    // never be materialized
    val trainSh = shingles(train, idCol, textCol, shingleSize)
    val testSh = shingles(test, idCol, textCol, shingleSize)
    // the broadcasts are explicit, not stats-inferred: eval sets arrive
    // as derived plans (filters/renames) whose sizes the optimizer
    // cannot estimate well, and a fallback sort-merge join here would
    // shuffle the ENTIRE train corpus's banded rows / shingle frame —
    // the one thing this operator exists to avoid. They are size-GATED
    // (broadcastIfSmall): a genuinely large second corpus degrades to a
    // shuffled equi-join on the same keys instead of a driver OOM.
    // gate on just the columns that feed the broadcast sides — the
    // user's corpus may carry wide payload columns that never broadcast.
    // ONE decision for all three bc() sites: the measurement job (when
    // the stats tier degrades) runs at most once per invocation.
    val bcSmall = smallEnoughToBroadcast(
      test.select(col(idCol), col(textCol)))
    def bc(df: DataFrame): DataFrame = if (bcSmall) broadcast(df) else df
    val cands = lshBuckets(trainSh, numHashes, bands)
      .withColumnRenamed("id", "train_id")
      .join(bc(lshBuckets(testSh, numHashes, bands)
        .withColumnRenamed("id", "test_id")), Seq("band", "bucket"))
      .select("train_id", "test_id").distinct()
    // candidates are bounded by the test side, so they broadcast into
    // the train shingle scan (train still never shuffles)
    trainSh.select(col("id").as("train_id"), col("sh").as("sh1"))
      .join(bc(cands), "train_id")
      .join(bc(testSh.select(col("id").as("test_id"), col("sh").as("sh2"))),
        "test_id")
      .select(col("train_id"), col("test_id"),
        round(jaccard(col("sh1"), col("sh2")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /**
   * Verbatim n-gram hit contamination (the GPT-3 methodology): for each
   * test document, how many of its distinct word n-grams appear ANYWHERE
   * in the training corpus. Catches a verbatim test chunk pasted inside
   * a much larger train document — a case whole-document Jaccard
   * ([[crossCorpusDupPairs]]) scores near 0 and misses entirely. The
   * GPT-3 check used 13-grams; pass `minHits` > 1 to tolerate
   * boilerplate collisions.
   *
   * Scale shape: the tiny test side explodes to distinct (test_id,
   * gram-hash) rows and BROADCASTS (size-gated by
   * [[TestBroadcastMaxBytesConf]] — an oversized eval corpus degrades
   * to a shuffled equi-join on the gram hash instead of a driver OOM);
   * the train corpus explodes its grams map-side into the
   * broadcast-hash-join probe — the train side never shuffles, and
   * only matched (test_id, hash) pairs (bounded by the test side's
   * size) reach the final partial-aggregated count.
   */
  def ngramHitContamination(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      minHits: Long = 1L): DataFrame = {
    def grams(docs: DataFrame, side: String): DataFrame =
      docs.select(col(idCol).as(side),
        explode(shingleHashes(col(textCol), n)).as("g"))
    val testGrams = grams(test, "test_id")
    val hits = grams(train, "train_id").select(col("g"))
      .join(broadcastIfSmall(testGrams, test.select(col(idCol), col(textCol))), "g")
      .select("test_id", "g").distinct()
      .groupBy("test_id").agg(count(lit(1)).as("n_hits"))
    hits.where(col("n_hits") >= minHits)
  }

  /** Bloom membership probe column over a 64-bit hash (codegen'd; see
    * [[graft.functions.BloomContains]]). `false` = definitely absent. */
  def bloomContains(hash: Column, bits: Array[Long], numHashes: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.BloomContains(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(hash), bits, numHashes))

  /** Distributed Bloom-filter build over a single 64-bit-hash column:
    * per-partition bitsets OR-merged with a tree reduction — the driver
    * receives `O(bits)` (the compact filter), never the rows. One count
    * job sizes the filter first; 12 bits/key + 6 probes ≈ 0.3% fpp. */
  private[graft] def buildBloom(hashes: DataFrame, hashCol: String,
      bitsPerKey: Int = 12, numHashes: Int = 6): Array[Long] = {
    import graft.functions.BloomKernel
    val n = hashes.count()
    val words = BloomKernel.sizeWords(n, bitsPerKey)
    if (n == 0) return new Array[Long](words)
    val perPartition = hashes.select(col(hashCol).cast("long")).rdd
      .mapPartitions { it =>
        val a = new Array[Long](words)
        var any = false
        it.foreach { row =>
          if (!row.isNullAt(0)) { BloomKernel.add(a, numHashes, row.getLong(0)); any = true }
        }
        if (any) Iterator.single(a) else Iterator.empty
      }
    perPartition.treeReduce { (x, y) =>
      var i = 0
      while (i < words) { x(i) |= y(i); i += 1 }
      x
    }
  }

  /**
   * Bloom-gated n-gram decontamination — [[ngramHitContamination]]'s
   * semantics pointed at the TRAIN side (the actual decontamination
   * action: find and drop train documents that leak ≥ `minHits` distinct
   * test-set n-grams), with the 100-TB pruning structure: the test-set
   * gram hashes build a compact Bloom filter (distributed OR-reduce,
   * driver holds only the bitset; 12 bits/key covers ~178 M grams in
   * 256 MiB), the filter rides the train gram scan as a codegen'd
   * map-side predicate, and ONLY survivors — true leaks plus an
   * fpp-sized (~0.3%) trickle of false positives — reach the exact
   * verify join that removes the false positives. No false negatives by
   * construction, so the result is EXACTLY the exact-join answer while
   * the verify join's input shrinks from |train grams| to
   * |leaks| + fpp·|train grams|. The verify side stays size-gated
   * ([[TestBroadcastMaxBytesConf]]) like every cross-corpus broadcast.
   */
  def bloomNgramContamination(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minHits: Long = 1L,
      bitsPerKey: Int = 12, numHashes: Int = 6): DataFrame = {
    val testGrams = test.where(col(textCol).isNotNull)
      .select(explode(shingleHashes(col(textCol), n)).as("g")).distinct()
    val bits = buildBloom(testGrams, "g", bitsPerKey, numHashes)
    train.where(col(textCol).isNotNull)
      .select(col(idCol).as("train_id"),
        explode(shingleHashes(col(textCol), n)).as("g"))
      .where(bloomContains(col("g"), bits, numHashes))
      .join(broadcastIfSmall(testGrams, test.select(col(idCol), col(textCol))),
        Seq("g"), "leftsemi")
      .groupBy("train_id").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /**
   * Edit-distance VERIFY of explicit candidate pairs — the fuzzy-dedup
   * confirmation step after any candidate generator (LSH buckets, an
   * id-arithmetic crawl heuristic, a fingerprint prefilter): join the
   * texts back and keep pairs within `maxDist` Levenshtein edits.
   *
   * Scale notes: the distance uses Spark's THRESHOLD-bounded
   * `levenshtein(l, r, k)` — O(k·min(len)) with early exit, not the
   * O(len²) full matrix, which is the difference between feasible and
   * not on kilobyte documents (the unbounded form walks ~10⁶ cells per
   * pair). Candidates are joined to the corpus twice on the id — two
   * hash joins that broadcast when the candidate set is small; text
   * rides only to the surviving pair rows. Never call this on an
   * all-pairs candidate frame — candidate generation is the LSH
   * family's job ([[minhashDupPairs]]).
   */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    val l = docs.select(col(idCol).as("left_id"), col(textCol).as("graft_lt"))
    val r = docs.select(col(idCol).as("right_id"), col(textCol).as("graft_rt"))
    candidates.join(l, "left_id").join(r, "right_id")
      .select(col("left_id"), col("right_id"),
        levenshtein(col("graft_lt"), col("graft_rt"), maxDist)
          .cast("long").as("dist"))
      // the threshold form returns -1 for "beyond maxDist"
      .where(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /**
   * Incremental ingest dedup: keep only the documents of a NEW batch
   * whose content fingerprint is absent from the persisted fingerprint
   * store of everything already ingested — the production shape of
   * "dedup today's crawl against the corpus" (the store is 8 bytes/doc;
   * re-running whole-corpus dedup per batch re-shuffles 100 TB for a
   * 0.1% delta).
   *
   * Scale shape, and why the store NEVER shuffles: the store's
   * fingerprints build a compact Bloom filter ([[buildBloom]]); batch
   * docs whose fingerprint misses the filter are definitively new (no
   * false negatives) and short-circuit past any join. The survivors —
   * true re-crawls plus the ~0.3% fpp trickle — are typically a sliver
   * of the batch, so their DISTINCT fingerprints broadcast into ONE
   * map-side semi-join scan of the store (a store bucketed/sorted by
   * fingerprint prunes that scan further); the confirmed hits come back
   * (≤ |probes| rows) and anti-join the survivors. Both broadcasts ride
   * the [[TestBroadcastMaxBytesConf]] gate: a pathological batch (all
   * duplicates) degrades to shuffled equi-joins on the 8-byte key
   * rather than a driver OOM. NULL-text docs carry a NULL fingerprint
   * and are kept (nothing to compare).
   */
  def dedupAgainstSeen(newDocs: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, seenFpCol: String,
      bitsPerKey: Int = 12, numHashes: Int = 6): DataFrame = {
    val fps = seen.select(col(seenFpCol).cast("long").as("graft_fp"))
    val bits = buildBloom(fps, "graft_fp", bitsPerKey, numHashes)
    val withFp = newDocs.withColumn("graft_fp",
      TextStats.contentFingerprint(col(textCol)))
    val mightBeSeen = bloomContains(col("graft_fp"), bits, numHashes)
    val definitelyNew = withFp.where(col("graft_fp").isNull || !mightBeSeen)
    val suspects = withFp.where(col("graft_fp").isNotNull && mightBeSeen)
    val probes = suspects.select("graft_fp").distinct()
    val gateSmall = smallEnoughToBroadcast(probes)
    def bc(df: DataFrame): DataFrame = if (gateSmall) broadcast(df) else df
    val hits = fps.join(bc(probes), Seq("graft_fp"), "leftsemi").distinct()
    val stillNew = suspects.join(bc(hits), Seq("graft_fp"), "leftanti")
    definitelyNew.unionByName(stillNew).drop("graft_fp")
  }

  /**
   * Incremental NEAR-dedup: drop new documents whose exact n-gram
   * Jaccard against ANY already-ingested document reaches `threshold`
   * — the near-dup sibling of [[dedupAgainstSeen]] (which only catches
   * byte-identical content). The ingest-loop shape of a growing
   * training corpus: each batch is screened against the accumulated
   * store before being appended to it.
   *
   * Built on [[crossCorpusDupPairs]] with the batch as the TRAIN side
   * and the seen corpus as the TEST side? No — the reverse: at 100 TB
   * the SEEN corpus is the huge side, so it takes the train role
   * (banded map-side, never shuffled when the batch broadcasts) and
   * the new BATCH takes the size-gated broadcast test role. The hit
   * ids then anti-join back against the batch. Within-batch
   * duplicates are NOT dropped here (they have no seen partner yet) —
   * run [[minhashDupPairs]]+[[keepCanonical]] on the batch first, the
   * composition q26-style pipelines already exercise.
   */
  def nearDedupAgainstSeen(newDocs: DataFrame, idCol: String,
      textCol: String, seen: DataFrame, seenIdCol: String,
      seenTextCol: String, threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val seenNorm = seen.select(col(seenIdCol).as(idCol),
      col(seenTextCol).as(textCol))
    val hits = crossCorpusDupPairs(
      train = seenNorm,
      test = newDocs.select(col(idCol), col(textCol)),
      idCol = idCol, textCol = textCol, threshold = threshold,
      shingleSize = shingleSize, numHashes = numHashes, bands = bands)
      .select(col("test_id").as("graft_dup_id")).distinct()
    newDocs.join(hits, newDocs(idCol) === col("graft_dup_id"), "left_anti")
  }

  /**
   * Cross-document repeated n-gram spans — exact substring dedup at
   * SPAN granularity: a position is "repeated" when its word n-gram
   * also occurs in another document, and consecutive repeated
   * positions merge into maximal spans `(doc_id, span_start, span_end,
   * n_grams)` (token indices, end inclusive). This is the
   * repeated-substring pass of modern training pipelines (public
   * method: Lee et al., "Deduplicating Training Data Makes Language
   * Models Better", ACL 2022 — theirs is a single-node suffix array,
   * this is the distributed positional-n-gram formulation), catching
   * boilerplate reuse INSIDE otherwise-distinct documents that
   * whole-document Jaccard scores near 0.
   *
   * Scale shape: positional grams shuffle on the 8-byte gram hash
   * (never gram text); cross-document grams fall out of a min!=max
   * partial aggregation (no countDistinct expansion); positions come
   * back through a semi-join on the hash; span merging is one
   * per-document window over HIT positions (bounded by hits, not
   * tokens).
   */
  /** Ordered per-position gram hashes (compiled kernel, see
    * [[graft.functions.PositionalGramHashes]]): element i = hash of
    * the n-gram starting at token i; shorter-than-n docs → empty. */
  def positionalGramHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.PositionalGramHashes(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(text), n))

  /** Positions whose n-gram occurs in more than one document, with the
    * gram's OWNER (minimum doc id) carried along — the shared core of
    * [[repeatedSpans]] (which keeps every hit) and
    * [[cutRepeatedSpans]] (which cuts only non-owner hits). */
  private def repeatedHits(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val grams = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(positionalGramHashes(col(textCol), n)).as(Seq("pos", "g")))
    val crossDoc = grams.groupBy("g")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .where(col("d0") =!= col("d1"))
      .select("g", "d0")
    grams.join(crossDoc, Seq("g"))
  }

  /** Merge hit positions into maximal `(doc_id, span_start, span_end,
    * n_grams)` spans: one per-document window, gaps-and-islands. */
  private def mergeHitSpans(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .select(col("doc_id"), col("pos"),
        (col("pos") - row_number().over(w)).as("grp"))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    mergeHitSpans(repeatedHits(docs, idCol, textCol, n), n)

  /**
   * CUT repeated spans out of documents — the removal half of
   * substring dedup: tokens covered by a cross-document repeated
   * n-gram run are dropped from every document EXCEPT the gram's
   * owner (minimum doc id), so exactly one copy of the duplicated
   * content survives in the corpus (the all-but-one policy of the
   * suffix-array pipeline). Returns `(doc_id, text)`: documents with
   * cuts are re-joined from their surviving tokens in the kernel's
   * normalized form (lower-cased, single-spaced); untouched documents
   * pass through verbatim.
   *
   * Scale shape: [[repeatedHits]]'s hash-keyed shuffles, one window
   * over non-owner hits, then cut ranges collect per document
   * (bounded by a document's span count) and the token filter is one
   * map-side higher-order expression — document text itself never
   * rides a shuffle key and is never exploded row-per-token.
   */
  def cutRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val cutRanges =
      mergeHitSpans(
        repeatedHits(docs, idCol, textCol, n)
          .where(col("doc_id") =!= col("d0")), n)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("span_start"), col("span_end")))
          .as("cuts"))
    val toks = words(col(textCol))
    val kept = filter(toks, (_, i) =>
      !exists(col("cuts"), c =>
        i >= c.getField("span_start") && i <= c.getField("span_end")))
    docs
      .join(cutRanges, docs(idCol) === cutRanges("doc_id"), "left")
      .select(docs(idCol).as("doc_id"),
        when(col("cuts").isNull, docs(textCol))
          .otherwise(concat_ws(" ", kept)).as("text"))
  }

  /** Decontaminate an eval set: drop every test document whose n-gram
    * content near-matches any training document at `threshold`. One
    * anti-join against the distinct contaminated test ids. */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8): DataFrame = {
    // internal name: a bare "test_id" would be ambiguous whenever the
    // caller's own id column is named test_id
    val hits = crossCorpusDupPairs(train, test, idCol, textCol, threshold)
      .select(col("test_id").as("__graft_hit_id")).distinct()
    test.join(hits, test(idCol) === col("__graft_hit_id"), "left_anti")
  }

  /** Corpus cleaning: drop every document that is the higher-id member of
    * a detected duplicate pair (keeps the first occurrence of each text;
    * for near-dups this is the standard greedy LSH-dedup policy). One
    * anti-join against the distinct higher ids — no row explosion. */
  def dropDuplicateDocs(docs: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 1.0): DataFrame = {
    val pairs =
      if (jaccardThreshold >= 1.0) exactDupPairs(docs, idCol, textCol)
      else minhashDupPairs(docs, idCol, textCol, jaccardThreshold)
    docs.join(pairs.select(col("id2")).distinct(),
      docs(idCol) === col("id2"), "left_anti")
  }

  /** Exact duplicate pairs (identical `textCol`), id1 < id2. Shuffle
    * shape: a self-equi-join keyed on the 8-byte content fingerprint
    * (the text itself is never a shuffle/sort key — it rides as a
    * value and partitions hash on a BIGINT, the q26/q27 hygiene), with
    * FULL text equality verified on each matched pair — so the result
    * stays exact even across (astronomically unlikely) hash collisions
    * where one fingerprint holds two distinct texts. A join rather
    * than a per-fingerprint collect_list keeps heavy duplicate classes
    * spill-safe: the join buffers same-key matches in a spillable row
    * array, where a single aggregation value holding k copies of the
    * text would hit the 2 GB row limit on boilerplate duplicated
    * ~10^5 times (routine in web-crawl dedup). */
  def exactDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // isNotNull: NULL-text documents must not pair with each other (and
    // dropDuplicateDocs would otherwise delete all but one of them)
    val d = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        TextStats.contentFingerprint(col(textCol)).as("fp"))
    val a = d.select(col("fp"), col("id").as("id1"), col("t").as("t1"))
    val b = d.select(col("fp"), col("id").as("id2"), col("t").as("t2"))
    // coalesce() keeps ExtractEquiJoinKeys from lifting the text
    // equality into the join keys (which would put raw text back into
    // the shuffle/sort key); it remains a post-match condition
    // evaluated on the fp-keyed join's matches
    a.join(b, Seq("fp"))
      .where(coalesce(col("t1") === col("t2"), lit(false)) &&
        col("id1") < col("id2"))
      .select("id1", "id2")
  }

  /** Exact-duplicate STAR edges — each non-minimal member of a
    * byte-equal class paired with the class minimum — at corpus-LINEAR
    * cost: the spanning form of [[exactDupPairs]] for consumers that
    * only need the duplicate GROUPS (connected components), where the
    * all-pairs form's C(m,2) explosion on an m-member family buys
    * nothing. One fingerprint-keyed exchange (text rides as a VALUE,
    * same as exactDupPairs — never a key), one window min per class.
    * Same full-text-verify discipline, hardened (r16 ADVICE): a
    * fingerprint collision no longer drops the mismatched members
    * outright — byte-equal docs colliding with a smaller-id DISTINCT
    * text (which exactDupPairs would still link) are rescued by a
    * second window pass over the verify-failed remainder, keyed on an
    * INDEPENDENT fingerprint (xxhash64 with a salt column prepended).
    * The remainder is ~empty (reachable only at ~n²/2⁶⁴ probability),
    * so the rescue pass is a recompute of the linear window over ~zero
    * rows; a double collision (both fingerprints, ~n²/2¹²⁸) still
    * DROPS the member rather than mislinking it. */
  def exactDupStars(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("id")
    val tagged = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        TextStats.contentFingerprint(col(textCol)).as("fp"))
      .withColumn("id1", first("id").over(w))
      .withColumn("t1", first("t").over(w))
      .withColumn("__hit", coalesce(col("t") === col("t1"), lit(false)))
    val stars = tagged
      .where(col("id") =!= col("id1") && col("__hit"))
      .select(col("id1"), col("id").as("id2"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("fp2").orderBy("id")
    val rescued = tagged
      .where(col("id") =!= col("id1") && !col("__hit"))
      .withColumn("fp2", xxhash64(lit("graft.star.rescue"), col("t")))
      .withColumn("idr", first("id").over(w2))
      .withColumn("tr", first("t").over(w2))
      .where(col("id") =!= col("idr") &&
        coalesce(col("t") === col("tr"), lit(false)))
      .select(col("idr").as("id1"), col("id").as("id2"))
    stars.unionByName(rescued)
  }

  /** `shiftright` with a Column shift amount (the Scala helper only
    * accepts a literal Int). */
  private def shr(v: Column, bits: Column): Column =
    call_function("shiftright", v, bits.cast("int"))

  /** 64-bit SimHash over shingle STRINGS (compat form; prefer
    * [[shingleHashes]] + [[simhash64FromHashes]]). */
  def simhash64(shingles: Column): Column =
    simhash64FromHashes(transform(shingles, s => xxhash64(s)))

  /** 64-bit SimHash over pre-hashed shingles: per-bit majority vote,
    * folded into one BIGINT (compiled kernel). */
  def simhash64FromHashes(hashes: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(hashes)))

  /**
   * Embedding-cosine near-duplicate pairs: banded SRP-LSH candidates
   * (split the `planes`-bit hyperplane-sign signature into `bands` bit
   * groups; pairs sharing any (band, value) bucket are candidates), then
   * exact verify with the compiled cosine kernel >= `threshold`.
   *
   * Scale: same bucketed-shuffle shape as the MinHash path — no crossJoin.
   * Bucket selectivity is 2^(planes/bands) per band, so bits-per-band is
   * the knob: a pair at cosine c collides in at least one band with
   * probability 1 − (1 − (1 − acos(c)/π)^bits)^bands — the 7-bit default
   * recalls c ≥ 0.98 pairs at >0.999 while keeping buckets ~n/128.
   * Lower-similarity thresholds need fewer bits per band (bigger buckets):
   * that tradeoff is inherent to hyperplane LSH.
   */
  def embeddingDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 56, bands: Int = 8): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val rowBits = planes / bands
    val mask = (1L << rowBits) - 1
    // head(1), not head(): an empty corpus has no pairs (and no dim to
    // infer) — return an empty, correctly-typed result instead of
    // throwing; isNotNull stops a NULL first vector from poisoning the
    // inferred dim (size(NULL) = -1)
    val dimRow = emb.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    if (dimRow.isEmpty) {
      return emb.select(col(idCol).as("id1"), col(idCol).as("id2"),
        lit(0.0).as("cosine")).where(lit(false))
    }
    val dim = dimRow(0).getInt(0)
    // NULL vectors out before banding (same blowup mode as NULL texts in
    // lshCandidatePairs: one shared bucket per band)
    val sig = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        Similarity.srpBucket(col(vecCol), planes, dim).as("sig"))
    val banded = sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          shr(col("sig"), b * rowBits).bitwiseAND(lit(mask)).as("v")))).as("c"))
      .select(col("id"), col("c.band").as("band"), col("c.v").as("bv"))
    val buckets = banded.groupBy("band", "bv")
      .agg(collect_list("id").as("ids"))
      .where(size(col("ids")) > 1)
    val cands = bucketPairs(buckets)
    val vs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vs.withColumnRenamed("id", "id1").withColumnRenamed("v", "v1"), "id1")
      .join(vs.withColumnRenamed("id", "id2").withColumnRenamed("v", "v2"), "id2")
      .select(col("id1"), col("id2"),
        round(Similarity.cosine(col("v1"), col("v2")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")

  /** Default [[connectedComponents]] `microGraphMaxEdges`: a 1 M-edge
    * graph is ~2 M union-find operations and ≤ ~200 MB of boxed hash map
    * on ONE task (2 M entries × ~96 B) — well inside any executor and
    * still far cheaper than a single distributed star round
    * (shuffle + join + agg + codegen compile of several round plans). */
  private val MicroGraphMaxEdgesDefault = 1000000L

  /** Open-addressed primitive union-find over 64-bit ids — the Long/Int
    * id-column specialization of the union-find cores below. Linear
    * probing over three flat arrays (~17 B/node at 50% load vs ~96 B/node
    * for a boxed HashMap entry), path-halving find, union-by-min (the
    * numerically smaller root always wins, so each final root IS the
    * component's minimum id — identical semantics to SQL `min`). */
  private final class LongUnionFind(expectedNodes: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(64, expectedNodes) * 2 - 1) << 1
    private var keys = new Array[Long](cap)
    private var parent = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var h = k * -7046029254386353131L // splitmix64 odd multiplier
      h ^= h >>> 32
      var i = h.toInt & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def add(k: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true; keys(i) = k; parent(i) = k; n += 1
        if (n.toLong * 2 > cap) grow()
      }
    }
    private def grow(): Unit = {
      val ok = keys; val op = parent; val ou = used; val ocap = cap
      cap <<= 1
      keys = new Array[Long](cap)
      parent = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < ocap) {
        if (ou(i)) {
          val s = slot(ok(i))
          used(s) = true; keys(s) = ok(i); parent(s) = op(i)
        }
        i += 1
      }
    }
    def find(x0: Long): Long = {
      var x = x0
      var i = slot(x)
      var p = parent(i)
      while (p != x) { // path halving: point x at its grandparent
        val gp = parent(slot(p))
        parent(i) = gp
        x = gp
        i = slot(x)
        p = parent(i)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(slot(rb)) = ra else parent(slot(ra)) = rb
      }
    }
    /** All (node, root) pairs; find() path-halving during iteration only
      * rewrites parent VALUES, never moves slots, so scanning is safe. */
    def nodeRoots: Iterator[(Long, Long)] = (0 until cap).iterator
      .filter(used).map(i => (keys(i), find(keys(i))))
  }

  /** Union-find over one partition's `(src, dst)` edge rows, emitting a
    * `(node, root)` row per distinct node seen — dispatched to the
    * primitive [[LongUnionFind]] for Long/Int id columns, else a boxed
    * HashMap with Spark's interpreted ordering over internal values (so
    * string labels order exactly like SQL `min`). Shared by the
    * single-task micro path and the per-partition contraction pass. */
  private def unionFindPartition(
      dt: org.apache.spark.sql.types.DataType)(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{IntegerType, LongType}
    dt match {
      case LongType | IntegerType =>
        val isInt = dt == IntegerType
        val uf = new LongUnionFind(1 << 12)
        it.foreach { row =>
          val s = if (isInt) row.getInt(0).toLong else row.getLong(0)
          val d = if (isInt) row.getInt(1).toLong else row.getLong(1)
          uf.union(s, d)
        }
        uf.nodeRoots.map { case (id, root) =>
          val vals = if (isInt) Array[Any](id.toInt, root.toInt)
            else Array[Any](id, root)
          new GenericInternalRow(vals): InternalRow
        }
      case _ =>
        val ord = org.apache.spark.sql.GraftSqlShim.interpretedOrdering(dt)
        val parent = new java.util.HashMap[Any, Any]()
        def find(x0: Any): Any = {
          var x = x0
          var p = parent.get(x)
          while (p != x) { // path halving: point x at its grandparent
            val gp = parent.get(p)
            parent.put(x, gp)
            x = gp
            p = parent.get(x)
          }
          x
        }
        def add(x: Any): Unit = if (!parent.containsKey(x)) parent.put(x, x)
        // row.copy() for buffer-backed types only: the LogicalRDD scan
        // pipes rows through an UnsafeProjection that REUSES one output
        // buffer, so a UTF8String/binary value extracted from row N is
        // clobbered at row N+1 unless the row is copied first. Primitive
        // ids are extracted by value — copying 1M rows there would be
        // pure GC churn.
        val bufferBacked = dt match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.BinaryType => true
          case _ => false
        }
        val rows = if (bufferBacked) it.map(_.copy()) else it
        rows.foreach { row =>
          val s = row.get(0, dt)
          val d = row.get(1, dt)
          add(s); add(d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) {
            if (ord.lt(rs, rd)) parent.put(rd, rs) else parent.put(rs, rd)
          }
        }
        // snapshot keys before the final finds (find mutates map values)
        val nodes = parent.keySet().toArray
        nodes.iterator.map { id =>
          new GenericInternalRow(Array[Any](id, find(id))): InternalRow
        }
    }
  }

  /** Single-task union-find over a symmetric `(src, dst)` edge list —
    * the micro-graph fast path of [[connectedComponents]]. One
    * `mapPartitions` over a `coalesce(1)` of the (already checkpointed,
    * so cheap-to-rescan) edges. Returns `(id, lbl)` rows. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val dt = edges.schema("src").dataType
    val out = StructType(Seq(
      StructField("id", dt, nullable = false),
      StructField("lbl", dt, nullable = false)))
    val rdd = edges.queryExecution.toRdd.coalesce(1)
      .mapPartitions(unionFindPartition(dt))
    org.apache.spark.sql.GraftSqlShim.ofInternalRows(
      edges.sparkSession, out, rdd)
  }

  /** Local-contraction pre-pass (the "filtering" phase of two-phase
    * distributed CC): range-partition the symmetric edge list by `src`
    * and union-find each partition independently, emitting one
    * `(node, localRoot)` spanning-forest row per distinct node a
    * partition sees. The union of these per-partition forests has
    * EXACTLY the original graph's connectivity (each partition's forest
    * is a compressed spanning forest of its edge subset; a node seen by
    * several partitions emits several rows, which re-unite its local
    * roots downstream) — but at most Σ_p distinct-nodes(p) edges instead
    * of the full pair count.
    *
    * RANGE partitioning is what makes the pass pay: duplicate-pair
    * graphs are id-local (LSH/fingerprint candidates come out grouped,
    * block structures are contiguous), so consecutive ids — and hence
    * nearly every edge's two endpoints — land in the same partition, and
    * whole chains/stars collapse to single roots in one pass, leaving
    * ~one row per node with only partition-boundary components split.
    * On a graph with NO id locality the forest can exceed the input
    * (every node seen by ~2 partitions), which is why the caller guards
    * on the achieved reduction and falls back to the alternating-star
    * engine ([[starLoop]]) on the original edges.
    *
    * Returns the forest (cols `src`=node, `dst`=localRoot) as an
    * RDD-checkpointed DataFrame plus its row count (the count job is
    * what materializes the checkpoint). Per-task memory is bounded by
    * the partition's distinct-node count (~17 B/node for Long/Int ids),
    * set by the shuffle-partition sizing — unlike the micro path this
    * phase is fully distributed. */
  private def spanningForest(edges: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = edges.sparkSession
    val dt = edges.schema("src").dataType
    val out = StructType(Seq(
      StructField("src", dt, nullable = false),
      StructField("dst", dt, nullable = false)))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rdd = edges.repartitionByRange(n, col("src"))
      .queryExecution.toRdd
      .mapPartitions(unionFindPartition(dt))
      .localCheckpoint()
    val cnt = rdd.count()
    (org.apache.spark.sql.GraftSqlShim.ofInternalRows(spark, out, rdd), cnt)
  }

  /** Symmetrize a `(src, dst)` pair list in ONE pass (explode, not a
    * union — a union would evaluate the whole upstream candidate
    * pipeline twice). Duplicate edges are NOT removed: union-find is
    * idempotent to them and the star engine's canonical orientation
    * drops them, so a `distinct()` here would spend a full extra
    * shuffle for nothing (dedup pair lists are already distinct). */
  private def symmetrize(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

  /** Contraction-stall guard: the spanning forest must come in under
    * this fraction of the input edge count for the contracted graph to
    * be used — otherwise the graph has no id locality, the pass bought
    * nothing, and the alternating-star engine ([[starLoop]]) runs on
    * the original edges. */
  private val ContractionStallFraction = 0.7

  /** Post-contraction micro-path relaxation: the forest is bounded by
    * the distinct-NODE count (not the pair count), and the primitive
    * union-find costs ~17 B/node for Long/Int ids, so a single task
    * comfortably absorbs a few times [[MicroGraphMaxEdgesDefault]]. */
  private val PostContractionMicroFactor = 4L

  /** One [[connectedComponentsRun]]: the labels plus how they were
    * resolved — `engine` is "micro", "contract-micro" or "star",
    * `rounds` the star round count (0 on the union-find paths) and
    * `forestEdges` the contraction pass's forest rows (-1 on the micro
    * path, the only one that skips the pass). Returned per call, so
    * concurrent calls never see each other's figures. */
  private[graft] final case class CcRun(labels: DataFrame, engine: String,
      rounds: Int, forestEdges: Long)

  /**
   * Connected components over an undirected duplicate-pair graph
   * `(id1, id2)` — resolves pairwise hits into duplicate GROUPS: every
   * node is labeled with the minimum id reachable from it (the group id).
   * This is the step after candidate generation that pair-emitting dedup
   * (exact/MinHash/SimHash/embedding) needs before "keep one copy":
   * transitive duplicates A~B, B~C must collapse to ONE group even when
   * the pair A~C was never emitted.
   *
   * Micro-graph fast path: the symmetrize checkpoint (always built — see
   * below) yields the edge count for free; at or below
   * `microGraphMaxEdges` the components are resolved by a SINGLE-task
   * union-find over the checkpointed edges instead of distributed
   * rounds — identical labels, one job instead of one per round, and
   * none of the per-round generated-plan compilation. Duplicate-pair
   * graphs at any scale have TINY edge lists relative to the corpus
   * (pairs, not documents), so this path covers most real invocations.
   *
   * Above the gate there are two distributed paths, chosen from the
   * input itself: a local-contraction pre-pass ([[spanningForest]])
   * whose forest — small on the id-local graphs dedup produces —
   * resolves on the micro path (contract→micro), and the
   * alternating-star engine ([[starLoop]]) for everything else: a
   * contracted forest still too large for one task, or a graph with no
   * id locality (detected by the contraction stall guard). Star rounds
   * converge in O(log²) rounds worst case on ANY id layout. Lineage is
   * cut with a lazy checkpoint every round so the plan does not grow
   * with the iteration count (the classic iterative-DataFrame trap).
   *
   * Shuffle hygiene (100 TB): the symmetric edge list is repartitioned by
   * `src` BEFORE its one-time lineage cut — `localCheckpoint` preserves
   * `outputPartitioning`, so the star engine's canonical (hi, lo)
   * orientation rides that layout with no exchange of its own.
   *
   * If the star rounds have not converged after `maxIterations` rounds
   * the labels are WRONG (some component carries several group ids), so
   * this throws rather than returning a silently-truncated result.
   *
   * Each superseded round checkpoint is unpersisted immediately; Spark
   * logs one WARN per round ("lineage has been truncated and cannot be
   * recomputed") — expected and harmless, the checkpoint is never read
   * again.
   *
   * @param microGraphMaxEdges symmetric-edge-count threshold at or below
   *   which components are resolved by the single-task union-find fast
   *   path (see above). Set to 0 to force the distributed path.
   */
  def connectedComponents(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxIterations: Int = 50,
      microGraphMaxEdges: Long = MicroGraphMaxEdgesDefault): DataFrame =
    connectedComponentsRun(pairs, id1, id2, maxIterations,
      microGraphMaxEdges).labels

  /** [[connectedComponents]] with its engine, round and forest figures
    * ([[CcRun]]). */
  private[graft] def connectedComponentsRun(pairs: DataFrame,
      id1: String = "id1", id2: String = "id2", maxIterations: Int = 50,
      microGraphMaxEdges: Long = MicroGraphMaxEdgesDefault): CcRun = {
    require(maxIterations > 0,
      s"maxIterations must be positive (got $maxIterations)")
    val e = pairs.select(col(id1).as("src"), col(id2).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // symmetrized edges land directly in the partitioned checkpoint: one
    // upstream evaluation, one shuffle, one materialization
    val (edges, edgeCount) = org.apache.spark.sql.GraftSqlShim
      .checkpointHashPartitionedCounted(symmetrize(e), "src")
    if (edgeCount <= microGraphMaxEdges) {
      // micro-graph: one single-task job resolves everything. The result
      // is checkpointed (it is tiny) so the edge blocks can be freed
      // immediately without leaving the returned plan depending on them.
      val labels = unionFindLabels(edges).localCheckpoint()
      org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(edges)
      log.info(s"connectedComponents: micro-graph path, $edgeCount edges")
      return CcRun(labels.select(col("id"), col("lbl").as("group_id")),
        "micro", 0, -1L)
    }
    // local-contraction pre-pass: solve each range partition with a
    // single union-find pass and keep only the spanning forest. On the
    // id-local graphs dedup produces this collapses the edge list to
    // ~one row per node in one distributed pass, and the (tiny) forest
    // then resolves on the micro path — replacing O(log d) join rounds
    // with one shuffle + one map pass.
    val (forest, forestCount) = spanningForest(edges)
    if (forestCount >= edgeCount * ContractionStallFraction) {
      // no id locality — the pass bought nothing
      log.info(s"connectedComponents: contraction stalled " +
        s"($edgeCount edges -> $forestCount forest rows), " +
        "running alternating star rounds on the original edges")
      org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(forest)
      val (labels, rounds) = starLoop(edges, edgeCount, maxIterations)
      return CcRun(labels, "star", rounds, forestCount)
    }
    org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(edges)
    if (forestCount <= microGraphMaxEdges * PostContractionMicroFactor) {
      val labels = unionFindLabels(forest).localCheckpoint()
      org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(forest)
      log.info(s"connectedComponents: contracted $edgeCount edges to " +
        s"$forestCount forest rows, resolved on the micro path")
      return CcRun(labels.select(col("id"), col("lbl").as("group_id")),
        "contract-micro", 0, forestCount)
    }
    // still huge after contraction: star rounds over the (smaller)
    // contracted graph — its node set is exactly the original node set,
    // so the loop's labels are directly the final labels
    log.info(s"connectedComponents: contracted $edgeCount edges to " +
      s"$forestCount forest rows, running alternating star rounds on " +
      "the forest")
    val (fEdges, fCount) = org.apache.spark.sql.GraftSqlShim
      .checkpointHashPartitionedCounted(symmetrize(forest), "src")
    org.apache.spark.sql.GraftSqlShim.unpersistCheckpoint(forest)
    val (labels, rounds) = starLoop(fEdges, fCount, maxIterations)
    CcRun(labels, "star", rounds, forestCount)
  }

  /** Alternating large-star/small-star contraction over a checkpointed
    * SYMMETRIC edge list — the distributed engine of
    * [[connectedComponents]], run on the original edges of a graph with
    * no id locality (where the contraction pre-pass stalls) or on a
    * contracted forest still too large for the micro path. The star
    * operations restructure the EDGE SET itself instead of propagating
    * labels, so convergence is O(log²) rounds worst case — and a handful
    * in practice — independent of how ids are laid out (public
    * algorithm: Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014).
    *
    * Round = two halves over the canonical (hi, lo) edge list:
    *  - large-star: every node links its strictly LARGER neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node links its strictly smaller neighbors
    *    (and itself) to that minimum.
    * Both preserve connectivity exactly; the fixed point is a disjoint
    * union of stars whose centers are the component minima. Convergence
    * is detected structurally in the round's single count job: the
    * canonical edge list is star-shaped iff every `hi` has exactly one
    * `lo` and no `lo` appears as a `hi` (a star rooted anywhere but the
    * component minimum violates the second clause, so this cannot fire
    * early).
    *
    * At scale each half is one edge-sized groupBy + join (the edge list
    * only shrinks: `distinct` bounds it by the input), which is why the
    * contraction pre-pass gets the first try on id-local graphs. Ids of
    * any orderable type work; comparisons and `min` are Spark SQL
    * semantics (strings collate like SQL `min`).
    * Unpersists `edges` when done. Returns the labels, bound to
    * `edges`' session, and the round count. */
  private[graft] def starLoop(edges: DataFrame, edgeCount: Long,
      maxIterations: Int): (DataFrame, Int) = {
    val shim = org.apache.spark.sql.GraftSqlShim
    // round partition count sized to the edge volume: an explicit-N
    // repartition is exempt from AQE coalescing (that is what lets the
    // checkpoint RECORD its layout), so a small graph must not be
    // spread over the full session width — 6 rounds x several stages of
    // 32 near-empty tasks is pure scheduler overhead (the q70 63 k-edge
    // entry ran ~1.7x slower that way). ~100 k canonical rows per
    // partition, capped at the session conf for big graphs.
    val spark = edges.sparkSession
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nStar = math.max(1, math.min(confParts,
      (edgeCount / 200000L).toInt + 1))
    // node count is bounded by the symmetric edge count; ~300 k nodes
    // of (id, min) rows is the ~10 MB broadcast-threshold ballpark
    val bigGraph = edgeCount >= 600000L
    val maybeHinted: DataFrame => DataFrame =
      if (bigGraph) _.hint("shuffle_hash") else identity
    // (A node-frame BROADCAST tier — ship the (node, min) frame to
    // every task so the large-star join and the small-star window both
    // ride the checkpoint's hash(hi) layout, cutting a round's
    // edge-sized exchanges 3 → 1 — was tried in round 16 and reverted:
    // interleaved A/B on the 1.26 M-edge cc_star graph measured warm
    // walls IDENTICAL (10.5-11.7 s off vs 10.3-11.5 s on), because at
    // this scale the 20 MB hash exchanges are not where round wall
    // goes — the per-round broadcast rebuild costs what the exchanges
    // saved. Round wall is stage-barrier + window-sort bound.)
    // The big-graph rounds plan in their own LOOP SESSION, a clone of
    // the caller's with two pins that never reach the caller:
    //  - AQE off: inside these rounds AQE has nothing left to decide —
    //    every exchange is an explicit-N repartition (exempt from
    //    coalescing) and the join strategy is hint-pinned — but it
    //    still costs a re-optimization fence per query stage, measured
    //    at ~15% of round wall at 1.26 M edges. Small graphs keep AQE
    //    (and the caller's session): its runtime broadcast conversion
    //    of the node-sized min frame is the win there.
    //  - shuffle partitions = nStar: the round repartitions are sized
    //    to the edge volume, but the round's JOIN and WINDOW exchanges
    //    ride the session conf — with conf wider than nStar every
    //    round's exchanges also REPARTITION across widths (hash(k,
    //    nStar) checkpoint layouts never satisfy a hash(k, conf)
    //    requirement), so the recorded layouts only save exchanges when
    //    everything inside the loop agrees on ONE width. Measured on
    //    the bench graphs: 1.26 M edges 13.7 -> 10.5 s warm, 600 k
    //    edges 6.8 -> 5.0 s (same-harness A/B). Once the edge volume
    //    saturates the session conf (nStar == confParts), the pin is a
    //    no-op.
    // The input checkpoint is rebound to the loop session, so every
    // round frame derives from it; the labels are rebound back to the
    // caller's session at the end.
    val loop = if (!bigGraph) spark
      else shim.cloneSession(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> nStar.toString)
    val e = if (loop eq spark) edges
      else shim.ofRows(loop, edges.queryExecution.analyzed)
    // node inventory for the final labeling — needed ONLY when the input
    // carries self-loops: (u, u) canonicalizes away below (hi > lo is
    // strict), so a node with ONLY self-loop edges would otherwise
    // vanish from the round state entirely. Every OTHER node survives
    // every round (large-star rewrites a row's lo, never drops its hi;
    // small-star re-emits every group member as hi or lo), so at the
    // fixed point the star forest itself is a complete inventory:
    // non-roots appear exactly once as hi, roots as lo — the final
    // labeling is then the forest plus its distinct roots, skipping
    // both this edge-sized distinct+materialize+count and the final
    // edge-sized left join. The probe is one early-exit scan of the
    // already-materialized edges checkpoint. When the inventory IS
    // built it is forced eagerly — edges' checkpoint blocks are freed
    // before labels are consumed, and a lazy plan would then read a
    // severed lineage.
    val nodes = if (e.where(col("src") === col("dst")).isEmpty) null
      else {
        val n = shim.lazyCheckpointNoStats(
          e.select(col("src").as("id")).distinct())
        n.count()
        n
      }
    // canonical orientation (hi > lo): each undirected edge once;
    // self-loops drop out (their nodes live on in `nodes`)
    // canonical orientation rides the edges checkpoint's hash(src)
    // layout: filter/project are alias-aware partition-preserving, so
    // hash(src)=hash(hi) already satisfies the dedup's (hi, lo)
    // clustering — the canonicalization adds ZERO exchanges and the
    // captured layout feeds round 1's exchange-free min-aggregate.
    // (A round-1 VIEW over the symmetrize checkpoint — skipping this
    // materialization — was tried in round 14 and reverted: measured
    // NEUTRAL on warm walls, and the compact round-1 checkpoint keeps
    // the loop's inputs eviction-cheap, so the simpler claim stays.)
    var c: DataFrame = shim.lazyCheckpointAssumeHashPartitioned(
      e.where(col("src") > col("dst"))
        .select(col("src").as("hi"), col("dst").as("lo"))
        .dropDuplicates("hi", "lo"), "hi", confParts)
    var it = 0
    var converged = false
    // carried (hi, min(lo), deg) aggregate: the convergence-stats job of
    // round k computes EXACTLY round k+1's closed-neighborhood min, so
    // it is checkpointed (node-sized rows) and reused instead of paying
    // a fresh groupBy pass over the edge list every round
    var prevP: DataFrame = null
    while (!converged && it < maxIterations) {
      val roundT0 = System.nanoTime()
      // large-star without symmetrizing: m(u) = min(Γ(u) ∪ {u}) can only
      // be u or a SMALLER neighbor, and the canonical rows already group
      // u's smaller neighbors under hi = u — so the closed-neighborhood
      // min is one groupBy over |c| rows (not 2|c| symmetric rows). The
      // checkpoint carries hashpartitioning(hi), so this agg runs
      // EXCHANGE-FREE — and from round 2 on, not even that: the previous
      // round's stats aggregate IS this min, served from its checkpoint.
      // The emit "link every larger neighbor v of u to
      // m(u)" is a left join of the edge rows (hi = v, lo = u) against
      // it, coalescing to u itself for nodes with no smaller neighbor.
      // One output row per input row — no distinct needed at this stage.
      // (A min-map pointer-jump — mn composed with itself before this
      // join — was tried in round 15 and reverted: small-star flattens
      // every group each round, so the pointer forest never exceeds
      // depth ~2 and m+(m+(u)) == m+(u) almost everywhere; measured
      // rounds stayed at 6 on the 20 k x 64-chain bench graph while the
      // extra node-sized self-join added ~0.5 s/round.)
      val mn = (if (prevP != null) prevP.select(col("hi"), col("p").as("m"))
        else c.groupBy("hi").agg(min("lo").as("m")))
        .select(col("hi").as("u"), col("m"))
      // shuffle-hash hint on LARGE graphs only: the build side is one
      // (node, min) row per keyed node — per-partition maps stay small
      // — and skipping the sort-merge sorts saves two per-round sorts
      // of the edge list. On small graphs the hint would BLOCK AQE's
      // broadcast conversion (mn under the broadcast threshold makes
      // the join exchange-free on the probe side), so it only applies
      // once mn is plausibly past broadcast size (~10 MB of narrow
      // rows). maybeHinted is set once outside the loop.
      val large = c.join(maybeHinted(mn), c("lo") === mn("u"), "left")
        .select(c("hi"), coalesce(mn("m"), c("lo")).as("lo")) // hi > lo >= m
      // small-star as ONE window over `large`. The previous join shape
      // referenced `large` from THREE subtrees (the m2 aggregate, the
      // join's left input and the union's second branch), and a DataFrame
      // DAG re-EVALUATES a shared subtree per reference — each round ran
      // the large-star SortMergeJoin three times (the r11 profile showed
      // ~3× the expected CPU per round). The window consumes it once:
      // within a group hi = u of (distinct) rows lo_i, m2 = min(lo_i);
      // the unique row with lo = m2 emits the center link (u, m2) — the
      // old union branch — and every other row emits (lo_i, m2). Skew
      // note: a hub's group sorts on one task (WindowExec spills via
      // ExternalAppendOnlyUnsafeRowArray), the same hot-key locality the
      // old SMJ probe side had. The emit is followed by an EXPLICIT
      // repartition(n, hi): hash(hi) satisfies the dropDuplicates
      // clustering requirement on (hi, lo), so the dedup aggregate adds
      // no exchange of its own, and the checkpoint RECORDS that layout
      // (assume-variant: the explicit-N repartition guarantees it) for
      // the stats job and the next round's min-aggregate.
      val next = shim.lazyCheckpointAssumeHashPartitioned(
        large
          .withColumn("m2", min("lo").over(
            org.apache.spark.sql.expressions.Window.partitionBy("hi")))
          .select(when(col("lo") === col("m2"), col("hi"))
            .otherwise(col("lo")).as("hi"), // lo > m2 / hi > m2
            col("m2").as("lo"))
          .repartition(nStar, col("hi"))
          .dropDuplicates("hi", "lo"), "hi", nStar)
      // first job of the round: materializes the edge checkpoint AND the
      // p-aggregate checkpoint (reused as next round's min — see prevP),
      // and computes the multi-parent violation count plus the round's
      // edge count in one agg pass (the edge count is the shrink signal
      // the r10 verdict asked to see per round). The aggregate runs
      // exchange-free on next's recorded hash(hi, nStar) layout, so
      // its output provably carries the same layout — RECORD it
      // (assume variant, validated under graft.debug.assertLayout in
      // DedupGroupsSpec) so the next round's join probes `mn` without
      // re-exchanging the node-sized frame every round.
      val p = shim.lazyCheckpointAssumeHashPartitioned(next.groupBy("hi")
        .agg(min("lo").as("p"), count(lit(1)).as("deg")), "hi", nStar)
      // single convergence job per round: the multi-parent/edge-count
      // aggregate AND the second violation clause (a parent that is
      // itself somebody's hi — a semi-join of p-values against the hi
      // set) run as subtrees of ONE 1-row frame, so each round pays one
      // job-scheduling barrier instead of two (the semi-join previously
      // ran as its own job whenever the first clause passed — on
      // near-star graphs that is MOST rounds). The semi-join is
      // shuffle-hash-hinted on big graphs: its build side (the hi
      // projection) rides p's recorded hash(hi, nStar) layout
      // exchange-free and nothing sorts; only the node-sized p-value
      // projection exchanges. Both violation subtrees scan the p
      // checkpoint, never the edge list.
      val viol2 = p.select(col("p").as("v"))
        .join(maybeHinted(p.select(col("hi").as("v"))), Seq("v"),
          "left_semi")
        .agg(count(lit(1)).as("chained"))
      val stats = p.agg(
          sum(when(col("deg") > 1, 1L).otherwise(0L)).as("multi"),
          sum("deg").as("edges"))
        .crossJoin(viol2).head()
      val multiParent = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      val edgeRows = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      converged = multiParent == 0L && stats.getLong(2) == 0L
      shim.unpersistCheckpoint(c)
      if (prevP != null) shim.unpersistCheckpoint(prevP)
      prevP = p
      c = next
      it += 1
      val wallSec = (System.nanoTime() - roundT0) / 1e9
      log.info(f"connectedComponents: star round $it edges=$edgeRows " +
        f"multiParent=$multiParent converged=$converged wall=$wallSec%.2f s")
    }
    shim.unpersistCheckpoint(edges)
    if (prevP != null) shim.unpersistCheckpoint(prevP)
    if (!converged) {
      shim.unpersistCheckpoint(c)
      if (nodes != null) shim.unpersistCheckpoint(nodes)
      throw new IllegalStateException(
        s"connectedComponents star rounds did not converge after " +
          s"$maxIterations rounds; raise maxIterations")
    }
    // at the fixed point every hi has exactly one lo = its component
    // minimum; roots and self-loop singletons label themselves. Without
    // self-loops the forest is its own node inventory (see the probe
    // above) — no nodes checkpoint, no edge-sized left join.
    val labels =
      if (nodes != null)
        nodes.join(c.select(col("hi").as("id"), col("lo").as("lbl")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("lbl"), col("id")).as("group_id"))
      else
        c.select(col("hi").as("id"), col("lo").as("group_id"))
          .unionByName(
            c.select(col("lo").as("id"), col("lo").as("group_id")).distinct())
    (if (loop eq spark) labels
      else shim.ofRows(spark, labels.queryExecution.analyzed), it)
  }

  /** Per-group rollup of [[connectedComponents]]: group id (= canonical
    * lowest member id), member count, highest member id. */
  def dupGroupStats(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2"): DataFrame =
    connectedComponents(pairs, id1, id2)
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))

  /** Keep exactly one document per duplicate group (the lowest id);
    * documents in no pair pass through untouched. One anti-join against
    * the non-canonical member ids — no row explosion. */
  def keepCanonical(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("group_id")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /**
   * Asymmetric containment pairs `(id_contained, id_container,
   * containment)`: documents whose shingle set is (nearly) a SUBSET of
   * another document's — `|sh(A) ∩ sh(B)| / |sh(A)| >= threshold`. The
   * duplicate class Jaccard misses by construction: a paragraph quoted
   * inside a much larger page has tiny Jaccard but containment ~1, and
   * near-dup pipelines that stop at Jaccard keep both copies.
   *
   * Every stage reads one materialized `(id, sh)` frame
   * ([[shingleFrame]]), so the shingle kernel runs once per call.
   * Candidates come from a bottom-`probeK` sketch against a full
   * inverted index: each document probes with its `probeK` SMALLEST
   * shingle hashes ([[shingleHashes]] returns sorted distinct hashes,
   * so the sketch is a `slice`); the index side explodes every
   * document's shingles, keyed by the 8-byte hash. Recall is EXACT
   * whenever the contained side differs by fewer than `probeK`
   * shingles (in particular for full containment: every probe hash is
   * in the container), and deterministic always — the hashes are
   * seeded, so a pair found once is found every run. Pairs are then
   * verified with the exact containment fraction (rounded to 6dp
   * before the threshold, the cross-engine determinism rule of
   * [[minhashDupPairs]]).
   *
   * Scale shape: the inverted index is corpus-LINEAR (one row per
   * document-shingle, 16 bytes of key+id — never text) and the probe
   * side is `probeK` rows per document; the candidate join is keyed on
   * the hash, and per-key fan-out is bounded by `maxShingleDf` — keys
   * hotter than that (boilerplate shingles shared by everything;
   * uninformative for containment) are dropped from the INDEX side
   * only, with the documented recall caveat that a probe whose entire
   * sketch is boilerplate finds nothing. Each document lists a hash at
   * most once, so no key's df exceeds the frame's row count: a frame of
   * at most `maxShingleDf` documents skips the df aggregate (and its
   * exchange) outright. The probe sketch is at most `probeK` rows per
   * document; while that bound (~24 B a row) stays under
   * [[ContainmentBroadcastMaxBytesConf]] the sketch is the BROADCAST
   * build of the candidate join and the index streams past it
   * map-side, so the large side is never the one hashed.
   *
   * The cap is the SINGLE-KEY STRAGGLER guard, and it must be sized
   * from the candidate arithmetic, not from "df that feels big": a key
   * with document frequency d contributes ~d·(probeK/|sh|)·d candidate
   * rows — QUADRATIC in d — and every one of them lands on ONE reduce
   * task because they share the join key. AQE's skew split cannot
   * rescue this: skew detection reads the shuffle INPUT sizes, and a
   * d = 171 k key ships only ~2.7 MB of 16-byte index rows while its
   * join OUTPUT is ~8×10⁸ rows (measured: one task with 23 min of CPU
   * at the 100x GenScale point, every other core idle, via the shared
   * " graft dup marker" suffix shingle). The 16 k default keeps the
   * worst single-key output near ~10⁷ rows (~seconds of one core) and
   * only drops shingles carried by 16 k+ documents — zero containment
   * evidence at any corpus size worth indexing.
   *
   * Verification is CANDIDATE-STREAM-linear, not candidate-DISTINCT
   * shaped: the raw probe-join rows flow straight into the verify
   * filter — both shingle arrays attached by doc-keyed lookup and the
   * exact intersection size computed with a compiled two-pointer merge
   * over the sorted arrays ([[graft.functions.SortedIntersectCount]];
   * zero allocation per pair) — and only the threshold SURVIVORS are
   * deduplicated. At high duplication factor the candidate stream is
   * the dominant term (boilerplate-heavy corpora reach ~1000 candidates
   * per document), and a `distinct` BEFORE the verify is a
   * candidate-count-sized aggregation, while the survivor dedup is
   * output-sized. When the per-doc array frame is small enough (gated
   * by the measured checkpoint size, [[ContainmentBroadcastMaxBytes]])
   * the lookups are BROADCAST hash joins, so candidates never shuffle
   * at all; above the gate, candidates dedup first and the verify
   * COUNTS shared hashes per pair from the 16-byte inverted-index
   * rows — arrays never ride an exchange on either path. */
  def containmentDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, probeK: Int = 8,
      maxShingleDf: Long = 16384L): DataFrame = {
    requireThreshold(threshold)
    require(probeK > 0, s"probeK must be positive (got $probeK)")
    containmentDupPairsRun(shingleFrame(docs, idCol, textCol, shingleSize),
      threshold, probeK, maxShingleDf).pairs
  }

  /** One [[containmentDupPairsRun]]: the pairs plus the over-gate
    * verify's bounded-scratch batch count (1 = one wave; -1 when the
    * broadcast tier ran) — which path a measurement exercised. */
  private[graft] final case class ContainmentRun(pairs: DataFrame,
      batches: Int)

  /** The candidate plan of [[containmentDupPairsRun]] over an `(id, sh)`
    * frame of `nDocs` rows: the full inverted index `inv` (id_b, h), the
    * same index with its hot keys cut (`invKept`), the bottom-k probe
    * sketch `probes` (id_a, h) and the raw candidate stream `cands`
    * (id_a, id_b) — one row per shared probe hash, so a pair repeats. */
  private[graft] final case class ContainmentCandidates(inv: DataFrame,
      invKept: DataFrame, probes: DataFrame, cands: DataFrame)

  /** Builds [[ContainmentCandidates]]; `bcastGate` is
    * [[containmentBroadcastGate]]. */
  private[graft] def containmentCandidates(sh: DataFrame, nDocs: Long,
      probeK: Int, maxShingleDf: Long,
      bcastGate: Long): ContainmentCandidates = {
    val inv = sh.select(col("id").as("id_b"), explode(col("sh")).as("h"))
    // `sh` rows are sorted DISTINCT hashes, so df(h) <= nDocs: at or
    // under maxShingleDf no key can be hot, and the aggregate, its
    // exchange and the anti-join are skipped
    val invKept = if (nDocs <= maxShingleDf) inv else {
      val hot = inv.groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") > maxShingleDf).select("h")
      inv.join(hot, Seq("h"), "left_anti")
    }
    // shingleHashes returns SORTED distinct hashes: slice(1, k) IS the
    // bottom-k probe sketch
    val probes = sh.select(col("id").as("id_a"),
      explode(slice(col("sh"), 1, probeK)).as("h"))
    // the sketch is at most nDocs x probeK rows of ~24 B: under the gate
    // it is the broadcast build and the corpus-linear index streams
    // past it map-side; over it, the planner picks the join
    val cands = (if (nDocs * probeK * 24L <= bcastGate)
        invKept.join(broadcast(probes), Seq("h"))
      else probes.join(invKept, Seq("h")))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    ContainmentCandidates(inv, invKept, probes, cands)
  }

  /** [[ContainmentBroadcastMaxBytesConf]] as the session sets it,
    * self-clamped to 80 % of `spark.driver.maxResultSize`
    * ([[broadcastCollectGate]]): a broadcast collects its rows to the
    * driver first, so a gate past that limit would abort the query
    * mid-broadcast instead of taking the over-gate path. */
  private[graft] def containmentBroadcastGate(
      spark: org.apache.spark.sql.SparkSession): Long =
    broadcastCollectGate(
      spark.conf.get(ContainmentBroadcastMaxBytesConf,
        ContainmentBroadcastMaxBytes.toString).toLong,
      spark.conf.get("spark.driver.maxResultSize", "1g"))

  /** [[containmentDupPairs]] over an already-materialized `(id, sh)`
    * frame ([[shingleFrame]]), with its batch count ([[ContainmentRun]]);
    * the caller checks the arguments. */
  private[graft] def containmentDupPairsRun(sh: DataFrame,
      threshold: Double, probeK: Int = 8,
      maxShingleDf: Long = 16384L): ContainmentRun = {
    val spark = sh.sparkSession
    // the checkpoint's exact sizes (one tiny job) bound the hot-key
    // pass and gate both broadcasts below
    val stats = sh.agg(count(lit(1)), sum(size(col("sh")))).head()
    val nDocs = stats.getLong(0)
    val nSh = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val bcastGate = containmentBroadcastGate(spark)
    val ContainmentCandidates(inv, invKept, probes, cands) =
      containmentCandidates(sh, nDocs, probeK, maxShingleDf, bcastGate)
    // the array frame costs ~8 B/shingle + ~24 B/doc
    val estBytes = nDocs * 24L + nSh * 8L
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    def verified(pairs: DataFrame): DataFrame =
      pairs.join(broadcast(shA), "id_a").join(broadcast(shB), "id_b")
        .select(col("id_a").as("id_contained"),
          col("id_b").as("id_container"),
          round(sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double") /
            size(col("sh_a")).cast("double"), 6).as("containment"))
        .where(col("containment") >= threshold)
    if (estBytes <= bcastGate)
      // candidates stream map-side through two broadcast lookups and
      // the compiled merge; only the survivors are deduplicated
      ContainmentRun(verified(cands).distinct(), -1)
    else {
      // Over the gate, NEVER attach arrays through an exchange — the
      // retired shuffle-join fallback shipped BOTH ~KB shingle arrays
      // per candidate pair and was measured filling 252 GB of disk at
      // the 100x GenScale point before killing the JVM. Instead count
      // shared hashes per pair from the 16-byte inverted-index rows:
      // re-key the FULL index (hot shingles included, so the count
      // equals the broadcast path's full-array intersection exactly)
      // by candidate doc, then an equi-join on (doc, hash) keeps one
      // row per SHARED shingle and a count-aggregate collapses it to
      // the intersection size. Shuffle volume is Σ_cand |sh(a)| rows
      // of ~24 B — arrays never ride an exchange, the widest stream
      // spreads across executor disks instead of multiplying per pair,
      // and both joins/aggregates key on doc ids (AQE's skew split
      // sees real input sizes, unlike the array-shape fallback whose
      // blowup was in the join OUTPUT). `sh` arrays are sorted
      // DISTINCT hashes, so index rows are distinct (doc, h) pairs
      // and the count is exact. No side is broadcast-hinted: the
      // index collects at ~24 B per shingle, heavier than the ~8 B per
      // shingle array frame that just failed the gate.
      val sizesA = sh.select(col("id").as("id_a"),
        size(col("sh")).as("__n_a"))
      val invA = inv.select(col("id_b").as("id_a"), col("h"))
      // BOUNDED-SCRATCH batching: the verify's widest exchange is the
      // quadratic-family term, and a run whose aggregate shuffle
      // scratch can't hold it in one wave must not die mid-exchange
      // (measured on the single-box sf10 capture: one wave filled the
      // disk). Size the wave count from a SAMPLED measurement of what
      // crosses an exchange: 1/64 of the id_a hash domain (the filter
      // pushes below the candidate join, so the sample job exchanges
      // ~1/64 of the raw candidate rows), distinct'd and joined to the
      // per-doc sizes. One sample job measures BOTH the raw candidate
      // rows (what the distinct's shuffle WRITE carries: duplicates of
      // a pair arrive from different shingle-hash partitions, so
      // map-side partial aggregation cannot collapse them — on
      // dup-dense corpora raw/distinct approaches probeK) and the
      // distinct pairs + their Σ|sh(a)| (the exploded (pair, shingle)
      // stream downstream of the distinct). The wave is 16 B x the
      // LARGER of the two pair counts plus 24 B x Σ|sh(a)|, with 1.5x
      // headroom for sampling skew (r16 ADVICE: a distinct-only
      // estimate undersized the wave by up to probeK x). An empty
      // sample falls back to the pair-free upper bound
      // Σ_h probeDf·indexDf x avg|sh| (conservative, and only
      // reachable when the candidate set is ~empty anyway). k = 1
      // (any real cluster: executor disks aggregate far past this)
      // keeps one lazy plan; each batch is eagerly materialized
      // (16-byte survivor rows) before the next starts.
      val SampleMod = 64
      val sampleRow = cands
        .where(pmod(xxhash64(col("id_a")), lit(SampleMod)) === 0)
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("__dup"))
        .join(sizesA, Seq("id_a"))
        .agg(count(lit(1)).as("__sn"), sum("__n_a").as("__ss"),
          sum("__dup").as("__sraw")).head()
      val scratch = spark.conf.get(ContainmentScratchBytesConf,
        defaultScratchBytes(spark).toString).toLong
      val est =
        if (!sampleRow.isNullAt(0) && sampleRow.getLong(0) > 0L) {
          val sPairs = sampleRow.getLong(0).toDouble * SampleMod
          val sRaw = sampleRow.getLong(2).toDouble * SampleMod
          val sShA =
            (if (sampleRow.isNullAt(1)) 0L else sampleRow.getLong(1))
              .toDouble * SampleMod
          (math.max(sPairs, sRaw) * 16.0 + sShA * 24.0) * 1.5
        } else {
          val dfp = probes.groupBy("h").agg(count(lit(1)).as("__np"))
          val dfi = invKept.groupBy("h").agg(count(lit(1)).as("__ni"))
          val ubRow = dfp.join(dfi, Seq("h"))
            .agg(sum(col("__np") * col("__ni"))).head()
          val candUB = if (ubRow.isNullAt(0)) 0L else ubRow.getLong(0)
          val avgSh = if (nDocs == 0L) 0.0 else nSh.toDouble / nDocs
          candUB.toDouble * avgSh * 24.0
        }
      val k = containmentWaves(est, scratch)
      def countVerified(pairs: DataFrame): DataFrame =
        pairs.distinct()
          .join(invA, Seq("id_a"))
          .join(inv, Seq("id_b", "h"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("__shared"))
          .join(sizesA, Seq("id_a"))
          .select(col("id_a").as("id_contained"),
            col("id_b").as("id_container"),
            round(col("__shared").cast("double") /
              col("__n_a").cast("double"), 6).as("containment"))
          .where(col("containment") >= threshold)
      if (k <= 1) ContainmentRun(countVerified(cands), k)
      else {
        log.info(s"containmentDupPairs: over-gate verify in $k " +
          s"bounded-scratch batches (sampled wave estimate " +
          s"${(est / (1L << 20)).toLong} MiB vs scratch " +
          s"${scratch / (1L << 30)} GiB)")
        val shimSql = org.apache.spark.sql.GraftSqlShim
        val parts = (0 until k).map { i =>
          // eager checkpoint: batches run SEQUENTIALLY. The finished
          // batch's shuffles are provably dead (its only consumer was
          // just eagerly checkpointed) AND provably OURS (the id set
          // comes from this batch's own RDD lineage, not a global
          // registry diff — a concurrent query on a shared session
          // keeps its live shuffles), so drop their files
          // SYNCHRONOUSLY — the bound is lost if batch i+1's scratch
          // stacks on batch i's, and the async ContextCleaner path
          // (System.gc() nudge) was measured stalling a 48 GiB heap
          // past the executor heartbeat timeout
          val (part, ownedShuffles) = shimSql.eagerCheckpointWithShuffleIds(
            countVerified(
              cands.where(pmod(xxhash64(col("id_a")), lit(k)) === i)))
          shimSql.cleanupShuffles(spark, ownedShuffles)
          part
        }
        ContainmentRun(parts.reduce(_.unionByName(_)), k)
      }
    }
  }

  /** Scratch budget (bytes) for [[containmentDupPairs]]'s over-gate
    * bounded-scratch batching: the estimated one-wave shuffle volume
    * is divided by this to pick the batch count. Defaults to half the
    * usable space of the first local dir Spark writes shuffle files to
    * (driver-side measurement — right for local mode; CLUSTER
    * deployments should set this to the per-wave volume their
    * executors' aggregate shuffle disks absorb, typically high enough
    * that k stays 1). */
  val ContainmentScratchBytesConf =
    "spark.graft.dedup.containmentScratchBytes"

  private def defaultScratchBytes(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val usable = try org.apache.spark.sql.GraftSqlShim.firstLocalDir(spark)
        .getUsableSpace
      catch { case _: Exception => 0L }
    math.max(4L << 30, usable / 2)
  }

  /** Effective byte ceiling for a driver-collected relation — the
    * containment verify's per-doc array frame and probe sketch
    * ([[containmentBroadcastGate]]), the bm25 query-term table: the
    * configured gate, self-clamped to 80% of
    * `spark.driver.maxResultSize` so a borderline relation takes the
    * caller's other path (or its loud refusal) instead of aborting
    * mid-collect.
    * Parsed with byteStringAsBytes, NOT byteStringAsMb — a sub-MB
    * setting ('512k') truncates to 0 MB under the latter, which the
    * unlimited check would read as "no cap" and skip the clamp on
    * exactly the deployment most likely to abort the collect (r16
    * ADVICE). Unlimited is anything that PARSES to 0 bytes — Spark's
    * own semantics: '0', '0k', '0m', '0g' all disable the collect cap
    * (r17 ADVICE). */
  private[graft] def broadcastCollectGate(confGate: Long,
      maxResultSetting: String): Long = {
    val capBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(maxResultSetting.trim)
    if (capBytes == 0L) confGate // 0 bytes = unlimited collects
    else math.min(confGate, capBytes / 5L * 4L)
  }

  /** The over-gate verify's wave count, pure for testability: the
    * sampled one-wave shuffle estimate over the scratch budget, at
    * least 1 and at most 256 — 256 full index re-scans is already the
    * pathological-corpus backstop, not a sized plan. */
  private[graft] def containmentWaves(est: Double, scratch: Long): Int =
    math.min(256, math.max(1,
      math.ceil(est / math.max(1L, scratch).toDouble).toInt))

  /** Broadcast gate for [[containmentDupPairs]]: the per-doc
    * shingle-array frame is broadcast to the verify lookups while its
    * measured size stays under this (the hashed relation is ~2-3× the
    * raw bytes, so the 256 MB default keeps the build comfortably
    * inside a modest executor). Above it, the verify switches to
    * counting shared hashes per candidate pair from the 16-byte
    * inverted-index rows — shuffle volume Σ_cand |sh(a)| × ~24 B,
    * spread across executor disks, instead of the retired
    * array-shipping shuffle join whose cost was candidate-pairs × array
    * bytes (measured: ~71 M family pairs × ~5 KB filled 252 GB of disk
    * at the 100x GenScale point and killed the JVM) — and when even
    * that stream exceeds the scratch budget
    * ([[ContainmentScratchBytesConf]]), the verify runs in bounded
    * hash(id_a) batches instead of dying mid-exchange. Both paths
    * compute the SAME containment values. Deployments whose executors
    * can host the array frame should RAISE the conf: a resident
    * broadcast moves each array once per executor and verifies with
    * one compiled merge per pair — cheaper than the count path's
    * exchange when it fits. The same gate admits the probe sketch (at
    * most docs × probeK rows of ~24 B) as the candidate join's
    * broadcast build. The effective gate is clamped to 80 % of
    * `spark.driver.maxResultSize` ([[containmentBroadcastGate]]) — the
    * array frame and the sketch are both collected to the driver
    * first — so raising the conf past the driver's collect limit takes
    * the count path instead of aborting; raise `maxResultSize` with
    * it. Spark's hard broadcast ceiling (8 GB) still applies. */
  val ContainmentBroadcastMaxBytesConf =
    "spark.graft.dedup.containmentBroadcastMaxBytes"
  val ContainmentBroadcastMaxBytes: Long = 256L << 20

  /** Compiled two-pointer intersection size over sorted long arrays
    * (see [[graft.functions.SortedIntersectCount]]). */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.GraftSqlShim.lazyExpression(a),
        org.apache.spark.sql.GraftSqlShim.lazyExpression(b)))

  /**
   * Drop every document that is (nearly) contained in another — the
   * consuming end of [[containmentDupPairs]]. A contained doc loses to
   * its container; MUTUALLY contained docs (exact copies at the shingle
   * level, where both directions pass the threshold) keep the LOWER id,
   * so an exact-duplicate class always keeps exactly one member.
   * One-directional chains (A in B in C) drop the non-maximal members
   * and keep the maximal ones; every dropped doc had >= threshold of
   * its shingles present in some other INPUT doc (for strict subsets
   * that doc survives; under threshold < 1 a chain's guarantee is
   * transitive-approximate, the standard curation trade).
   *
   * One projection over the pair list + one anti-join — the pair list
   * (not the corpus) carries the quadratic-in-dup-factor term, and it
   * only shuffles 16-byte id pairs.
   */
  def removeContained(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = containmentLosers(pairs)
    docs.join(losers, docs(idCol) === col("loser"), "left_anti")
  }

  /** The [[removeContained]] elimination rule as a one-column `loser`
    * frame: a (contained, container) row eliminates `contained` unless
    * the reverse row exists and `contained` has the lower id. Shared
    * with [[Curation.curationReport]] and `tools.CurationColdProbe`,
    * which need the loser SET (to tag reasons), not the filtered
    * corpus. */
  private[graft] def containmentLosers(pairs: DataFrame): DataFrame = {
    // materialization rule again, one level up: callers hand us the
    // WHOLE containment pipeline lazily, and `pairs` is referenced
    // twice below (forward + reversed) — without a checkpoint the
    // pipeline re-runs per reference (q123 ran ~1.5× q122's cost for
    // what is one projection + one join over a tiny id-pair list).
    // The pair list is small; the subtree behind it is not.
    val p = pairs.localCheckpoint()
    val rev = p.select(col("id_contained").as("r_container"),
      col("id_container").as("r_contained"))
    p
      .join(rev, col("id_contained") === col("r_contained") &&
        col("id_container") === col("r_container"), "left")
      .where(col("r_contained").isNull ||
        col("id_contained") > col("id_container"))
      .select(col("id_contained").as("loser"))
      .distinct()
  }

  /** Keep the BEST document per duplicate group instead of the lowest
    * id: rank each group's members by the caller's `better` ordering
    * (e.g. quality DESC) with the id as the deterministic final
    * tie-break, keep rank 1, and pass documents in no pair through
    * untouched. The realistic end of a near-dup pipeline — when two
    * documents say the same thing, a curator keeps the cleaner one,
    * not the one that happened to be crawled first.
    *
    * Scale shape: only group MEMBERS (ids that appear in a pair — a
    * small fraction of any real corpus) flow through the rank window,
    * keyed on the group id; everything else is one anti-join. Neither
    * path shuffles on text.
    */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      better: Seq[Column]): DataFrame = {
    require(better.nonEmpty, "keepBest needs at least one ordering column")
    import org.apache.spark.sql.expressions.Window
    // prefixed helper names: drop-by-name removes EVERY matching column,
    // so joining the cc frame's (id, group_id) directly would eat a
    // caller column of the same name (and break the unionByName below)
    val cc = connectedComponents(pairs)
      .select(col("id").as("graft_cc_id"), col("group_id").as("graft_cc_group"))
    val members = docs
      .join(cc, docs(idCol) === cc("graft_cc_id"))
      .withColumn("graft_rn", row_number().over(Window
        .partitionBy(col("graft_cc_group"))
        .orderBy(better :+ docs(idCol).asc: _*)))
    val winners = members.where(col("graft_rn") === 1)
      .drop("graft_cc_id", "graft_cc_group", "graft_rn")
    val untouched = docs
      .join(cc.select(col("graft_cc_id")),
        docs(idCol) === cc("graft_cc_id"), "left_anti")
    untouched.unionByName(winners)
  }

  /**
   * Cross-source duplicate LEAKAGE matrix — mixture-design evidence:
   * for every unordered source pair (A, B), the number of
   * >= `threshold`-Jaccard near-duplicate pairs joining a document of
   * source A to one of source B. The number a curator reads before
   * setting mixture weights: a mirror site that is 90% another source's
   * content should not count as independent data, and within-source
   * counts (A = B) measure each source's internal redundancy.
   *
   * Scale shape: rides [[minhashDupPairs]] unchanged (banded LSH — no
   * all-pairs term); source labels join back by id (narrow id→source
   * rows, text never shuffles) and the matrix aggregate is at most
   * |sources|² rows with map-side partials.
   */
  def sourceLeakage(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val pairs = minhashDupPairs(docs, idCol, textCol, threshold,
      shingleSize, numHashes, bands).select("id1", "id2")
    val src = docs.select(col(idCol).as("graft_sl_id"),
      col(sourceCol).as("graft_sl_src"))
    pairs
      .join(src.select(col("graft_sl_id").as("id1"),
        col("graft_sl_src").as("graft_src1")), "id1")
      .join(src.select(col("graft_sl_id").as("id2"),
        col("graft_sl_src").as("graft_src2")), "id2")
      .select(least(col("graft_src1"), col("graft_src2")).as("source_a"),
        greatest(col("graft_src1"), col("graft_src2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash near-duplicate candidate pairs: pigeonhole the 64-bit hash
    * into 4 × 16-bit chunks — any pair within Hamming distance 3 shares
    * at least one chunk — then verify `bit_count(xor) <= maxHamming`. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleSize: Int = 3): DataFrame = {
    // NULL texts out before chunking ([[shingles]]): all-NULL simhashes
    // share every chunk bucket (same blowup mode as the MinHash path)
    val sh = shingles(docs, idCol, textCol, shingleSize)
      .select(col("id"), simhash64FromHashes(col("sh")).as("sh"))
    val chunked = sh.select(col("id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("chunk"),
          shr(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v")))).as("c"))
      .select(col("id"), col("sh"), col("c.chunk").as("chunk"), col("c.v").as("v"))
    val buckets = chunked.groupBy("chunk", "v")
      .agg(collect_list(struct(col("id"), col("sh"))).as("xs"))
      .where(size(col("xs")) > 1)
    buckets
      .select(explode(col("xs")).as("x1"), col("xs"))
      .select(col("x1"), explode(col("xs")).as("x2"))
      .where(col("x1.id") < col("x2.id"))
      .select(col("x1.id").as("id1"), col("x2.id").as("id2"),
        bit_count(col("x1.sh").bitwiseXOR(col("x2.sh"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
