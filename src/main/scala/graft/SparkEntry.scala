package graft

import graft.operators.{Dedup, Sampling, Similarity, TextStats}

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver contract — one entry per implemented operator from SURVEY.md §2,
 * each with a DuckDB-equivalent oracle in [[SparkEntry.oracleSql]].
 *
 * Interval-join queries derive interval tables `(contig, pos_start,
 * pos_end)` from the driver's `events` parquet with pure integer
 * arithmetic, so the Spark SQL and the DuckDB oracle compute identical
 * inputs (reference query shape: /root/reference/queries/q1-coitrees.sql).
 */
object SparkEntry {

  /** Interval tables A/B derived from events; dialect-neutral SQL
    * (valid in both Spark SQL and DuckDB). */
  private val cteAB: String =
    """WITH a AS (
      |  SELECT event_id AS a_id,
      |         CAST(user_id % 20 AS INT) AS contig,
      |         CAST((event_id * 37) % 100000 AS INT) AS pos_start,
      |         CAST((event_id * 37) % 100000 + event_id % 1000 AS INT) AS pos_end
      |  FROM events
      |), b AS (
      |  SELECT event_id AS b_id,
      |         CAST(user_id % 20 AS INT) AS contig,
      |         CAST((event_id * 53) % 100000 AS INT) AS pos_start,
      |         CAST((event_id * 53) % 100000 + event_id % 700 AS INT) AS pos_end
      |  FROM events
      |)""".stripMargin

  /** Queries whose SQL text is identical in Spark SQL and DuckDB. */
  private[graft] val sharedSql: Map[String, String] = Map(
    // ---- §2b inherited relational surface -------------------------------
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       ROUND(AVG(l_quantity), 6) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_quantity < 48
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter" ->
      """SELECT p_partkey, p_name, p_retailprice
        |FROM part
        |WHERE p_size > 30 AND p_brand = 'Brand#3'""".stripMargin,
    "q3_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_lines,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q4_sort_limit" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_cross" ->
      """SELECT r_name, n_name
        |FROM region CROSS JOIN nation""".stripMargin,
    "q6_window_agg" ->
      """SELECT user_id, date_trunc('hour', ts) AS h,
        |       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |GROUP BY user_id, date_trunc('hour', ts)""".stripMargin,
    "q7_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1""".stripMargin,
    "q8_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q9_setop" ->
      """SELECT c_custkey AS k FROM customer
        |INTERSECT
        |SELECT o_custkey AS k FROM orders""".stripMargin,
    // grouping sets + the part/supplier dimensions (3-way join, ROLLUP
    // subtotals; GROUPING() disambiguates real NULLs from rollup rows)
    "q47_rollup" ->
      """SELECT p.p_brand AS brand,
        |       CAST(s.s_nationkey % 5 AS BIGINT) AS nation_bucket,
        |       CAST(GROUPING(p.p_brand) AS BIGINT) AS g_brand,
        |       CAST(GROUPING(CAST(s.s_nationkey % 5 AS BIGINT)) AS BIGINT) AS g_nat,
        |       COUNT(*) AS cnt,
        |       ROUND(SUM(l.l_extendedprice), 2) AS revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY ROLLUP(p.p_brand, CAST(s.s_nationkey % 5 AS BIGINT))""".stripMargin,
    // ---- §2a interval join (the engine's flagship) ----------------------
    "q10_interval_join" -> (cteAB +
      """
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |GROUP BY a.contig""".stripMargin),
    // 3-way chained interval join — BOTH hops must plan onto the
    // indexed operator (the entry require()s two IntervalJoin nodes):
    // planner composability, not just a single-join special case. The
    // event_id < 2000 slice keeps the materialized pair fan-out
    // bounded (the chain probes a's PAIR ROWS against c — COUNT
    // pushdown can't collapse the inner hop).
    "q125_interval_chain" -> (cteAB +
      """, c AS (
        |  SELECT event_id AS c_id,
        |         CAST(user_id % 20 AS INT) AS contig,
        |         CAST((event_id * 71) % 100000 AS INT) AS pos_start,
        |         CAST((event_id * 71) % 100000 + event_id % 500 AS INT) AS pos_end
        |  FROM events WHERE event_id < 2000
        |)
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM (SELECT * FROM a WHERE a_id < 2000) a
        |JOIN (SELECT * FROM b WHERE b_id < 2000) b
        |  ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |JOIN c
        |  ON b.contig = c.contig
        | AND b.pos_start <= c.pos_end AND b.pos_end >= c.pos_start
        |GROUP BY a.contig""".stripMargin),
    "q11_interval_strict" -> (cteAB +
      """
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start < b.pos_end AND a.pos_end > b.pos_start
        |GROUP BY a.contig""".stripMargin),
    "q12_interval_keyless" -> (cteAB +
      """
        |SELECT COUNT(*) AS cnt
        |FROM a JOIN b ON a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |WHERE a.pos_start < 5000 AND b.pos_start < 5000""".stripMargin),
    "q13_interval_partitioned" -> (cteAB +
      """
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |GROUP BY a.contig""".stripMargin),
    "q18_interval_outer" -> (cteAB +
      """
        |SELECT b.b_id AS b_id, b.pos_start AS b_start, b.pos_end AS b_end,
        |       a.pos_start AS a_start, a.pos_end AS a_end
        |FROM a RIGHT JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start""".stripMargin),
    "q45_interval_mark" -> (cteAB +
      """
        |SELECT b.b_id AS b_id FROM b
        |WHERE b.pos_start < 100 OR EXISTS (
        |  SELECT 1 FROM a WHERE a.contig = b.contig
        |    AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |    AND a.pos_start < 2000)""".stripMargin),
    "q44_interval_full" -> (cteAB +
      """
        |SELECT COALESCE(a.contig, b.contig) AS contig,
        |       COUNT(*) AS cnt, COUNT(a.a_id) AS n_a, COUNT(b.b_id) AS n_b
        |FROM a FULL JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        | AND a.pos_start < 2000 AND b.pos_start < 2000
        |GROUP BY COALESCE(a.contig, b.contig)""".stripMargin),
    "q19_interval_semi_anti" -> (cteAB +
      """
        |SELECT
        |  (SELECT COUNT(*) FROM b WHERE EXISTS (
        |     SELECT 1 FROM a WHERE a.contig = b.contig
        |       AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start)) AS n_semi,
        |  (SELECT COUNT(*) FROM b WHERE NOT EXISTS (
        |     SELECT 1 FROM a WHERE a.contig = b.contig
        |       AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start)) AS n_anti""".stripMargin),
    // temporal bounds: RAW timestamp columns as interval bounds — the
    // recognizer normalizes TimestampType to epoch micros (UnixMicros),
    // so this plans onto the Long-backed indexed join with no manual epoch
    // conversion. CAST(ts AS TIMESTAMP) is a no-op in Spark and the
    // ns→us truncation in DuckDB, keeping both engines at micro
    // resolution. Beyond the reference (Int32-only coordinates).
    "q51_interval_ts" ->
      """WITH w AS (SELECT event_id, user_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS t0,
        |                  CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS t1
        |           FROM events)
        |SELECT a.event_type AS event_type, COUNT(*) AS n_pairs
        |FROM w a JOIN w b ON a.user_id = b.user_id
        | AND a.t0 <= b.t1 AND a.t1 >= b.t0 AND a.event_id < b.event_id
        |GROUP BY a.event_type""".stripMargin,
    // reciprocal-overlap-fraction join (bedtools `-f 0.5 -r` semantics):
    // the fraction bounds ride the SAME indexed join as plain overlap —
    // they are residual conjuncts compiled into the whole-stage-codegen
    // match loop, not a post-join filter stage. Integer-exact (×2 vs /2).
    "q52_interval_fraction" -> (cteAB +
      """
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        | AND (LEAST(a.pos_end, b.pos_end) - GREATEST(a.pos_start, b.pos_start) + 1) * 2
        |     >= (a.pos_end - a.pos_start + 1)
        | AND (LEAST(a.pos_end, b.pos_end) - GREATEST(a.pos_start, b.pos_start) + 1) * 2
        |     >= (b.pos_end - b.pos_start + 1)
        |GROUP BY a.contig""".stripMargin),
    // flagship baseline shape (reference queries/q1-coitrees.sql): global
    // overlap count — exercises the COUNT(*) aggregate pushdown
    "q16_interval_count" -> (cteAB +
      """
        |SELECT COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start""".stripMargin),
    "q15_interval_ailist" -> (cteAB +
      """
        |SELECT a.contig AS contig, COUNT(*) AS cnt
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |GROUP BY a.contig""".stripMargin),
    // hot-key skew shape: ~90% of rows share contig 0, so an unbinned
    // hash-clustered join caps at one task for that key; runs under the
    // binned rewrite (autoBin) in partitioned mode. SUM keeps the query
    // off the COUNT(*) pushdown so the materializing join is exercised.
    "q42_interval_skew" ->
      """WITH a AS (
        |  SELECT event_id AS a_id,
        |         CAST(CASE WHEN event_id % 10 < 9 THEN 0
        |              ELSE CAST(user_id % 20 AS INT) END AS INT) AS contig,
        |         CAST((event_id * 37) % 100000 AS INT) AS pos_start,
        |         CAST((event_id * 37) % 100000 + event_id % 1000 AS INT) AS pos_end
        |  FROM events
        |), b AS (
        |  SELECT event_id AS b_id,
        |         CAST(CASE WHEN event_id % 10 < 9 THEN 0
        |              ELSE CAST(user_id % 20 AS INT) END AS INT) AS contig,
        |         CAST((event_id * 53) % 100000 AS INT) AS pos_start,
        |         CAST((event_id * 53) % 100000 + event_id % 700 AS INT) AS pos_end
        |  FROM events
        |)
        |SELECT a.contig AS contig, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(b.pos_start AS BIGINT)) AS BIGINT) AS sum_bs
        |FROM a JOIN b ON a.contig = b.contig
        | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
        |WHERE a.pos_start < 50000 AND b.pos_start < 50000
        |GROUP BY a.contig""".stripMargin
  )

  /** Spark text for the nearest join: plain overlap join run under
    * `algorithm=nearest` (mirrors the reference's CoitreesNearest conf
    * switch, /root/reference sequila-core session_context.rs:53). */
  private val nearestSparkSql: String = cteAB +
    """
      |SELECT b.b_id AS b_id, b.contig AS contig,
      |       b.pos_start AS b_start, b.pos_end AS b_end,
      |       a.pos_start AS a_start, a.pos_end AS a_end
      |FROM a JOIN b ON a.contig = b.contig
      | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start""".stripMargin

  /** DuckDB oracle for the nearest join: window-ranked candidate join
    * pinning the deterministic semantics (overlap with min (start,end),
    * else min genomic distance, ties by (start,end); NULL-padded left for
    * probe keys with no build rows). */
  private val nearestOracleSql: String = cteAB +
    """,
      |cand AS (
      |  SELECT b.b_id, b.contig, b.pos_start AS b_start, b.pos_end AS b_end,
      |         a.pos_start AS a_start, a.pos_end AS a_end,
      |         CASE WHEN a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start THEN 0
      |              WHEN a.pos_start > b.pos_end THEN a.pos_start - b.pos_end
      |              ELSE b.pos_start - a.pos_end END AS dist
      |  FROM b JOIN a ON a.contig = b.contig
      |), ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY b_id
      |    ORDER BY (CASE WHEN dist = 0 THEN 0 ELSE 1 END), dist, a_start, a_end) AS rn
      |  FROM cand
      |)
      |SELECT b_id, contig, b_start, b_end, a_start, a_end FROM ranked WHERE rn = 1
      |UNION ALL
      |SELECT b.b_id, b.contig, b.pos_start, b.pos_end, NULL, NULL
      |FROM b WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.contig = b.contig)""".stripMargin

  // ---- LLM-pipeline operators over documents/embeddings ----------------

  /** Deterministic duplicate corpus: documents ∪ exact copies (ids
    * +1000000, every 5th doc) ∪ optionally near copies (ids +2000000,
    * every 7th doc, 3 words appended). The driver's documents table has
    * no duplicates, so dedup queries construct their own — identically in
    * Spark and the DuckDB oracle. */
  private[graft] def dupCorpus(spark: SparkSession, sfDir: String,
      near: Boolean): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val exact = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val nearDf = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" graft dup marker")).as("text"))
    if (near) docs.union(exact).union(nearDf) else docs.union(exact)
  }

  private val corpusCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |)""".stripMargin

  /** Near-corpus CTE body, shared by the plain (`WITH`) and recursive
    * (`WITH RECURSIVE`, for the q56 transitive-closure oracle) prefixes —
    * one constant, no string surgery on the assembled SQL. */
  private val corpusNearBody: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' graft dup marker' AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  private val corpusNearCte: String = "WITH " + corpusNearBody

  /** Oracle for exact-duplicate pairs over the constructed corpus. */
  private val exactDupOracle: String = corpusCte +
    """
      |SELECT a.doc_id AS id1, b.doc_id AS id2
      |FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin

  /** Verify candidate pairs by exact text equality (precision filter;
    * recall 1 on exact dups since identical text ⇒ identical
    * signature/hash ⇒ same buckets). */
  private def verifyByEquality(pairs: DataFrame, corpus: DataFrame): DataFrame = {
    val t = corpus.select(col("doc_id"), col("text"))
    pairs
      .join(t.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(t.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
      .where(col("t1") === col("t2"))
      .select(col("id1"), col("id2"))
  }

  /** Execute a Structured-Streaming frame to completion over its
    * bounded file source (Trigger.AvailableNow) into a memory sink and
    * return the sink's table — how the streaming operators run under
    * the driver's batch oracle. A fresh checkpoint dir per invocation:
    * a reused one would mark the input files already-processed and
    * replay nothing. */
  private def runStreamToTable(df: DataFrame, name: String,
      mode: String): DataFrame = {
    val spark = df.sparkSession
    val ck = java.nio.file.Files
      .createTempDirectory(s"graft_stream_ck_$name").toString
    // State-partition sizing: a stateful micro-batch pays a fixed
    // load/commit cost PER state-store instance (a stream-stream join
    // keeps four per partition), and the bounded replays here carry
    // only ~10⁴–10⁵ state rows — at the session's 32 shuffle
    // partitions the per-instance overhead dominates the batch (q79
    // profile: 2.8 s addBatch on a ZERO-row finalization batch). Pin 8
    // partitions for the replay; Spark records the value in the
    // checkpoint metadata at query start and re-applies it per batch,
    // so the value is pinned for the query's whole life. The pin lands
    // on the entry's own cloned session (see [[queries]]), so nothing
    // needs restoring. A production deployment sizes this to state
    // volume / throughput.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally {
      // the checkpoint only matters while the (run-to-completion)
      // query lives; repeated bench/verify invocations would otherwise
      // leak state-store files per run
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
      }
      rm(new java.io.File(ck))
    }
    spark.table(name)
  }

  /** The q57/q68 12-node path graph: consecutive documents chained
    * pairwise (diameter 11 — deep iteration for whichever CC path runs). */
  private def chainPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(s, dir, "documents").select("doc_id")
      .orderBy("doc_id").limit(12)
    d.select(col("doc_id").as("id1"),
        lead(col("doc_id"), 1).over(Window.orderBy("doc_id")).as("id2"))
      .where(col("id2").isNotNull)
  }

  /** Session-scoped IVF layout cache: a persisted ANN layout is
    * write-once read-many, so centroid training + bucketize happen once
    * per (JVM, sfDir) and later q31 invocations measure the probe, not a
    * rebuild. The path stays applicationId-keyed (concurrent runs against
    * the same sfDir must not overwrite each other's layout mid-scan); a
    * shutdown hook cleans it up at JVM exit. */
  private val ivfLayouts = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Array[Array[Float]])]()

  /** Write-once path layouts, one per (kind, app, sfDir): `write`
    * fills `graft_<kind>_<app>_<hash>` under java.io.tmpdir the first
    * time a kind is asked for in this JVM, and a shutdown hook deletes
    * it at exit. The path stays applicationId-keyed so concurrent runs
    * against the same sfDir never overwrite each other's layout
    * mid-scan. */
  private val pathLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def pathLayoutFor(kind: String, s: SparkSession, dir: String)(
      write: String => Unit): String = {
    val app = s.sparkContext.applicationId
    pathLayouts.computeIfAbsent(s"$kind|$app|$dir", _ => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_${kind}_${app}_" + Integer.toHexString(dir.hashCode)).getPath
      write(path)
      sys.addShutdownHook(deleteRecursively(new java.io.File(path)))
      path
    })
  }

  /** Write-once ORC copy of `documents` — the ORC source/sink coverage
    * twin of the parquet surface (Spark's ORC reader carries the same
    * pushdown/pruning machinery; the q91 scan is asserted to read only
    * the two projected columns). */
  private[graft] def orcLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("orc", s, dir)(path => Tables.load(s, dir, "documents")
      .select("doc_id", "source", "n_chars")
      .write.mode("overwrite").orc(path))

  /** Write-once JSONL (newline-delimited JSON text) layout of
    * `documents` — the interchange format LLM corpora actually ship in
    * (one JSON object per line). Spark's json source reads it
    * splittable-parallel; the q101 scan passes an EXPLICIT schema so
    * the read is single-pass (schema inference would scan the data
    * twice at 100 TB). */
  private[graft] def jsonlLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("jsonl", s, dir)(path => Tables.load(s, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").json(path))

  /** Write-once DAY-partitioned parquet layout of `events` — the
    * standard time-partitioned lake layout at ingest scale:
    * `.partitionBy(day)` makes the day a directory key, so a
    * day-bounded query prunes to that directory's files at PLANNING
    * time (PartitionFilters, before any file is opened) instead of
    * scanning the full history. */
  private[graft] def dayLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("day", s, dir)(path => Tables.load(s, dir, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(path))

  /** Write-once BUCKETED orders/customer tables per (app, sfDir) — the
    * co-located-join layout: both sides hash-bucketed (and sorted) on
    * the join key at WRITE time, so every later equi-join on that key
    * reads matching buckets pairwise with ZERO exchange on either side.
    * At 100 TB this converts the recurring cost of the pipeline's most
    * repeated join from a full two-sided shuffle into a local merge —
    * the write-once analogue of what `repartition` buys a single query.
    * External tables (explicit `path` under tmp) so the in-memory
    * catalog holds only metadata; names are sfDir-suffixed so two
    * scale factors in one session cannot collide. */
  private val bucketLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def bucketedTablesFor(s: SparkSession,
      dir: String): (String, String) =
    bucketLayouts.computeIfAbsent(s.sparkContext.applicationId + "|" + dir, _ => {
      val suffix = Integer.toHexString(dir.hashCode)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_bucket_${s.sparkContext.applicationId}_$suffix").getPath
      val tOrders = s"graft_bkt_orders_$suffix"
      val tCust = s"graft_bkt_customer_$suffix"
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .option("path", s"$base/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(tOrders)
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .write.mode("overwrite")
        .option("path", s"$base/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(tCust)
      sys.addShutdownHook(deleteRecursively(new java.io.File(base)))
      (tOrders, tCust)
    })

  /** Write-once FRAGMENTED day-partitioned layout of `events` — the
    * post-ingest shape q117's compaction repairs: 8 small files per
    * day directory (a streaming sink writes one file per
    * trigger × partition; the fragmentation is the realistic input,
    * not an artifact). q117 writes its compacted copy next to it. */
  private[graft] def fragmentedLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("frag", s, dir) { path =>
      Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .repartition(8)
        .write.mode("overwrite").partitionBy("day").parquet(path)
      sys.addShutdownHook(
        deleteRecursively(new java.io.File(s"$path.compacted")))
    }

  /** Write-once Z-ORDERED layout of `events`: rows clustered by the
    * bit-interleave of (user_id % 1024, day-of-month), so row-group
    * min/max stats are tight on BOTH columns and a 2-D range predicate
    * prunes groups — what the q106 1-D sort cannot give a second
    * dimension. The clustering key is write-time only; the stored
    * columns the query filters are the raw `ux`/`dom`. */
  private[graft] def zLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("z", s, dir) { path =>
      val ev = Tables.load(s, dir, "events")
        .withColumn("ux", (col("user_id") % 1024).cast("int"))
        .withColumn("dom", dayofmonth(col("ts")))
      val z = graft.operators.Layout.zorder2(col("ux"), col("dom"))
      ev.withColumn("z", z)
        .repartitionByRange(1, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .option("parquet.block.size", (64 * 1024).toString)
        .parquet(path)
    }

  /** Write-once SORTED parquet layout of `documents` (globally ordered
    * by `n_chars`, small row groups): the data-clustering layout that
    * makes parquet's row-group min/max statistics selective — a range
    * predicate on the sort key decodes only the row groups whose
    * [min,max] overlap it. This is the single-dimension form of
    * Z-order/clustered writes: at 100 TB the win is that a sorted
    * column's row-group stats are disjoint instead of all spanning the
    * full domain (every group then matches every filter). The 64 KiB
    * block size only exists to give the small test file multiple row
    * groups; at scale the default 128 MiB blocks give the same effect.
    * `repartitionByRange(1, ...)` globally orders the single test file;
    * at scale use N range partitions — ordering stays global across
    * files and file-level stats prune whole files the same way. */
  private[graft] def sortedLayoutFor(s: SparkSession, dir: String): String =
    pathLayoutFor("sorted", s, dir)(path => Tables.load(s, dir, "documents")
      .repartitionByRange(1, col("n_chars"))
      .sortWithinPartitions("n_chars")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(path))

  private[graft] def ivfLayoutFor(s: SparkSession,
      dir: String): (String, Array[Array[Float]]) =
    ivfLayouts.computeIfAbsent(s.sparkContext.applicationId + "|" + dir, _ => {
      val emb = Tables.load(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 64)
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivf_${s.sparkContext.applicationId}_" +
          Integer.toHexString(dir.hashCode)).getPath
      Similarity.ivfBucketize(emb, "vec_id", "embedding", cents, path)
      sys.addShutdownHook(deleteRecursively(new java.io.File(path)))
      (path, cents)
    })

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  private def run(sql: String, confs: (String, String)*)
      : (SparkSession, String) => DataFrame = { (spark, _) =>
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sql(sql)
  }

  /** The one conf scope rule: register the tables and install the
    * planner rules on the caller's session, then run the entry in a
    * CLONE of it. Whatever the entry pins (an interval algorithm, a
    * broadcast threshold, a streaming replay's partition count) stays
    * in that clone, so entries are self-contained under any execution
    * order — Verify iterates an unordered Map — and entries running
    * concurrently on one session never see each other's pins. The
    * clone inherits the caller's confs, so `set:` overrides on the
    * caller (graft.Explain) reach every entry. Never register tables on
    * a clone: [[Tables.registerAll]] caches per session, so each clone
    * would re-read the footers and stay reachable for the JVM's life. */
  private def scoped(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (base, sfDir) =>
    Tables.registerAll(base, sfDir)
    GraftSession.install(base)
    fn(GraftSqlShim.cloneSession(base), sfDir)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_interval_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ LLM-pipeline
    * operators), each run in its own session clone ([[scoped]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "q1_agg" -> run(sharedSql("q1_agg")),
    "q2_filter" -> run(sharedSql("q2_filter")),
    "q3_join_agg" -> run(sharedSql("q3_join_agg")),
    "q4_sort_limit" -> run(sharedSql("q4_sort_limit")),
    "q5_cross" -> run(sharedSql("q5_cross")),
    "q6_window_agg" -> run(sharedSql("q6_window_agg")),
    "q7_window_rank" -> run(sharedSql("q7_window_rank")),
    "q8_distinct" -> run(sharedSql("q8_distinct")),
    "q9_setop" -> run(sharedSql("q9_setop")),
    "q47_rollup" -> run(sharedSql("q47_rollup")),
    "q10_interval_join" -> run(sharedSql("q10_interval_join")),
    "q11_interval_strict" -> run(sharedSql("q11_interval_strict")),
    "q12_interval_keyless" -> run(sharedSql("q12_interval_keyless")),
    // no broadcast by size: the keyed join plans partitioned
    "q13_interval_partitioned" -> run(sharedSql("q13_interval_partitioned"),
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q14_interval_nearest" -> run(nearestSparkSql,
      GraftSession.IntervalJoinAlgorithm -> "nearest"),
    "q15_interval_ailist" -> run(sharedSql("q15_interval_ailist"),
      GraftSession.IntervalJoinAlgorithm -> "ailist"),
    "q16_interval_count" -> run(sharedSql("q16_interval_count")),
    "q17_interval_lapper" -> run(sharedSql("q15_interval_ailist"),
      GraftSession.IntervalJoinAlgorithm -> "lapper"),
    "q43_interval_tree" -> run(sharedSql("q15_interval_ailist"),
      GraftSession.IntervalJoinAlgorithm -> "intervaltree"),
    // chained (3-way) interval join: BOTH hops must claim the indexed
    // operator — composability of the strategy, not a one-join rewrite
    "q125_interval_chain" -> ((s, dir) => {
      val df = s.sql(sharedSql("q125_interval_chain"))
      val plan = df.queryExecution.executedPlan.toString
      val hops = "IntervalJoin".r.findAllIn(plan).size
      require(hops >= 2,
        s"q125 expects both chain hops on IntervalJoin, found $hops")
      df }),
    "q18_interval_outer" -> run(sharedSql("q18_interval_outer")),
    "q19_interval_semi_anti" -> run(sharedSql("q19_interval_semi_anti")),
    "q44_interval_full" -> run(sharedSql("q44_interval_full")),
    "q45_interval_mark" -> run(sharedSql("q45_interval_mark")),
    // semi-structured surface: JSON extraction from the events.props
    // payload (codegen'd get_json_object — stays in whole-stage codegen)
    "q46_json" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k")) }),
    // MAP-typed columns end to end: props parsed straight to
    // map<string,bigint> (from_json with a MAP schema — no struct
    // detour), map_concat with a computed entry, and the map-explode
    // generator back to rows. Covers the type surface q46's scalar
    // json-path extraction doesn't.
    "q116_map_explode" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("event_type"),
          map_concat(from_json(col("props"),
              org.apache.spark.sql.types.DataType.fromDDL("MAP<STRING, BIGINT>")),
            map(lit("u_mod"), col("user_id") % 7)).as("m"))
        .select(col("event_type"), explode(col("m")).as(Seq("key", "val")))
        .groupBy("event_type", "key")
        .agg(count(lit(1)).as("n"), sum("val").as("sum_val")) }),
    "q42_interval_skew" -> run(sharedSql("q42_interval_skew"),
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      GraftSession.AutoBin -> "force",
      GraftSession.BinSize -> "5000"),
    // 64-bit coordinates (epoch micros ~1.7e15): time-window overlap
    // self-join per user. The reference fails ANY bound beyond Int32 via
    // its checked narrowing (reference: interval_join.rs:1661-1672,
    // pinned :1927-1968); graft's Long-backed superintervals index answers
    // it — a capability, not just parity.
    "q49_interval_long" -> run(longWindowSparkSql),
    "q51_interval_ts" -> run(sharedSql("q51_interval_ts")),
    "q52_interval_fraction" -> run(sharedSql("q52_interval_fraction")),
    // interval merge + coverage (bedtools merge / genomecov-lite): union
    // overlapping intervals per contig, report per-contig region count,
    // merged-interval stats and covered bases — the IntervalOps API
    // (windowed running-max grouping, no self-join).
    "q53_interval_merge" -> ((s, dir) => {
      val a = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM a")
      graft.operators.IntervalOps
        .coverageStats(a, Seq("contig"), "pos_start", "pos_end")
        .select(col("contig"), col("n_regions"), col("covered_bases"),
          col("max_region_len").cast("long").as("max_region_len"),
          col("n_intervals")) }),
    // per-depth coverage histogram (bedtools genomecov): boundary-event
    // sweep as relational ops — IntervalOps.depthHistogram
    "q54_coverage_hist" -> ((s, dir) => {
      val a = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM a")
      graft.operators.IntervalOps
        .depthHistogram(a, Seq("contig"), "pos_start", "pos_end") }),
    // interval subtraction (bedtools subtract): a-fragments not covered
    // by b, per contig — merge(b) + LEFT OUTER IntervalJoinExec + gap
    // windows. Aggregated (the raw fragment set is order-free already,
    // but per-contig stats keep the output compact).
    "q55_interval_subtract" -> ((s, dir) => {
      val a = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM a")
      val b = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM b")
      graft.operators.IntervalOps
        .subtractIntervals(a, b, Seq("contig"), "pos_start", "pos_end")
        .groupBy("contig")
        .agg(count(lit(1)).as("n_frags"),
          sum(col("frag_end") - col("frag_start") + 1)
            .as("uncovered_bases")) }),
    // interval clustering (bedtools cluster): per-contig transitive
    // overlap clusters from ONE windowed sweep (no iteration — coverage
    // is contiguous along the sorted order, unlike general graph CC).
    // Aggregated per cluster to keep the output compact and order-free.
    "q66_interval_cluster" -> ((s, dir) => {
      val a = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM a")
      graft.operators.IntervalOps
        .clusterIntervals(a, Seq("contig"), "pos_start", "pos_end")
        .groupBy("contig", "cluster_id")
        .agg(count(lit(1)).as("n_members"),
          min(col("pos_start")).cast("long").as("cl_start"),
          max(col("pos_end")).cast("long").as("cl_end")) }),
    // interval-set jaccard (bedtools jaccard): per-contig base-level
    // intersection/union between the a and b interval sets — merged
    // sweeps + the indexed interval join of the merged runs.
    "q67_interval_jaccard" -> ((s, dir) => {
      val a = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM a")
      val b = s.sql(cteAB + "\nSELECT contig, pos_start, pos_end FROM b")
      graft.operators.IntervalOps
        .intervalSetJaccard(a, b, Seq("contig"), "pos_start", "pos_end") }),
    // AS-OF join (beyond the reference): latest click at-or-before each
    // purchase, per user, at epoch micros — DuckDB's native ASOF LEFT
    // JOIN is the oracle. One binary search per probe row; NULL-padded
    // build side for purchases with no prior click. Determinism: both
    // engines tie-break equal (user_id, ts) build rows arbitrarily, but
    // the driver's events tables have zero duplicate (user_id, ts) pairs
    // at every SF (verified), so the comparison is exact.
    "q50_asof" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("b_user"),
          unix_micros(col("ts")).as("click_t"),
          col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("purchase_t"),
          col("event_id").as("purchase_id"))
      graft.operators.AsofJoin(clicks, purchases,
          clicks("b_user") === purchases("p_user") &&
            clicks("click_t") <= purchases("purchase_t"))
        .select(col("purchase_id"), col("purchase_t"),
          col("click_id"), col("click_t")) }),
    // ---- LLM-pipeline operators ----------------------------------------
    "q20_dedup_exact" -> ((s, dir) => {
      Dedup.exactDupPairs(dupCorpus(s, dir, near = false), "doc_id", "text") }),
    "q21_dedup_minhash" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = false)
      verifyByEquality(Dedup.lshCandidatePairs(c, "doc_id", "text"), c) }),
    "q22_dedup_simhash" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = false)
      verifyByEquality(
        Dedup.simhashDupPairs(c, "doc_id", "text", maxHamming = 0)
          .select(col("id1"), col("id2")), c) }),
    "q23_dedup_jaccard" -> ((s, dir) => {
      Dedup.minhashDupPairs(dupCorpus(s, dir, near = true), "doc_id", "text",
        threshold = 0.8) }),
    // duplicate-GROUP resolution: the LSH pairs are only pairwise hits;
    // transitive duplicates (A~B, B~C with no A~C pair) must collapse to
    // one group before "keep one copy". Connected components — a pair
    // list this small resolves on the single-task union-find (micro)
    // path; larger graphs contract first or run alternating star rounds.
    // Oracle: DuckDB recursive-CTE transitive closure over the SAME
    // (oracle-recomputed) pair set.
    "q56_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.minhashDupPairs(dupCorpus(s, dir, near = true),
          "doc_id", "text", threshold = 0.8)
        .select(col("id1"), col("id2"))
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("group_id")) }),
    // the user-facing END of the dedup pipeline: resolve pair hits into
    // groups, keep exactly one document per group (the lowest id),
    // pass untouched documents through. Oracle: drop every member of a
    // recursive-CTE closure group except its minimum.
    "q58_dedup_canonical" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = true)
      val pairs = Dedup.minhashDupPairs(c, "doc_id", "text", threshold = 0.8)
        .select(col("id1"), col("id2"))
      Dedup.keepCanonical(c, "doc_id", pairs).select(col("doc_id")) }),
    // CC chain: a 12-node PATH graph (consecutive documents chained
    // pairwise, diameter 11) against the recursive-CTE transitive-
    // closure oracle — resolved by the default (micro-graph union-find)
    // path here; q68 runs the IDENTICAL graph through the distributed
    // star engine so both execution paths sit under the oracle.
    "q57_dedup_chain" -> ((s, dir) => {
      Dedup.connectedComponents(chainPairs(s, dir))
        .select(col("id").as("doc_id"), col("group_id")) }),
    // the DISTRIBUTED path on the same deep chain, same oracle:
    // microGraphMaxEdges = 0 disables both micro gates, so the
    // contraction pre-pass runs and its forest (above the zeroed
    // post-contraction gate) resolves through alternating star rounds
    // — genuine iteration under the oracle's hash check, not just in
    // unit tests. The require() pins the engine like q77's.
    "q68_dedup_chain_loop" -> ((s, dir) => {
      val cc = Dedup.connectedComponentsRun(chainPairs(s, dir),
        microGraphMaxEdges = 0L)
      require(cc.engine == "star",
        s"q68 pins the alternating-star engine, got '${cc.engine}'")
      cc.labels.select(col("id").as("doc_id"), col("group_id")) }),
    // distributed CC at REAL size, UN-pinned: a synthetic graph
    // derived from events — every event e owns a 64-node block
    // [64e, 64e+63]; blocks with e % 10 == 0 are stars (the shallow
    // near-star dedup shape), the rest 63-hop chains (diameter 63).
    // At sf0.01 that is 630 000 pairs = 1.26 M symmetric edges —
    // above microGraphMaxEdges, so the distributed path is chosen by
    // the planner gate itself, not forced: the graph is id-local, so the
    // contraction pre-pass collapses it and the forest resolves on the
    // micro path. At sf0.1 the e < 20000 cap holds it at 2.5 M
    // symmetric edges so the bench entry stays a bounded measurement
    // rather than an unbounded-with-sf one. Components
    // are arithmetically known (one per event), so the oracle is
    // closed-form block arithmetic instead of a recursive CTE over
    // millions of rows; the per-group rollup (count + sum + max over
    // every node label) breaks on any merged, split, or wrong-min
    // labeling.
    "q69_dedup_groups_large" -> ((s, dir) => {
      val J = 64
      val pairs = Tables.load(s, dir, "events")
        .select(col("event_id").cast("long").as("e"))
        .where(col("e") < 20000)
        .select(col("e"), explode(sequence(lit(1), lit(J - 1))).as("j"))
        .select(
          when(col("e") % 10 === 0, col("e") * J)
            .otherwise(col("e") * J + col("j") - 1).as("id1"),
          (col("e") * J + col("j")).as("id2"))
      Dedup.connectedComponents(pairs, maxIterations = 30)
        .groupBy("group_id")
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_id"),
          max(col("id")).as("max_id")) }),
    // the alternating-star engine under the driver oracle: the q69 block
    // chains with ids scrambled by an oracle-expressible bijection,
    // id' = ((id*7919) % 32768) * 65536 + id — unlike a hash, DuckDB can
    // compute it; unlike a digit swap, consecutive ids jump ~24% of the
    // domain, so RANGE partitions (contiguous 1/32 slices) never keep a
    // chain's endpoints together, the contraction pre-pass stalls, and
    // the star engine resolves the graph. 500 events × 63-hop chains =
    // 63 000 symmetric edges, held above the (lowered) micro gate so the
    // distributed path is engaged by the planner gate; at-scale star
    // timing lives in the cc_star_2m5_scrambled bench entry.
    "q70_dedup_groups_star" -> ((s, dir) => {
      val J = 64
      def mix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (c * 7919L % 32768L) * 65536L + c
      val pairs = Tables.load(s, dir, "events")
        .select(col("event_id").cast("long").as("e"))
        .where(col("e") < 500)
        .select(col("e"), explode(sequence(lit(1), lit(J - 1))).as("j"))
        .select(mix(col("e") * J + col("j") - 1).as("id1"),
          mix(col("e") * J + col("j")).as("id2"))
      Dedup.connectedComponents(pairs, maxIterations = 30,
          microGraphMaxEdges = 1000L)
        .groupBy("group_id")
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_id"),
          max(col("id")).as("max_id")) }),
    // the alternating-star engine AT SCALE under the driver oracle
    // (carried r9/r10 gap: q70 pins it at 63 k edges, the 2.5 M-edge run
    // was bench-timing-only). Same oracle-expressible bijection, all
    // 10 000 sf0.01 events: 630 000 pairs = 1.26 M symmetric edges —
    // above the DEFAULT 1 M micro gate at sf0.01, so the distributed
    // path is the planner's own choice there (the explicit 100 k gate
    // only keeps smaller sfs on the same engine). The require() makes
    // the ledger entry itself pin the engine: a silent fallback to any
    // other engine fails the query, not just a scaladoc claim.
    "q77_dedup_star_scale" -> ((s, dir) => {
      val J = 64
      def mix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (c * 7919L % 32768L) * 65536L + c
      val pairs = Tables.load(s, dir, "events")
        .select(col("event_id").cast("long").as("e"))
        .where(col("e") < 10000)
        .select(col("e"), explode(sequence(lit(1), lit(J - 1))).as("j"))
        .select(mix(col("e") * J + col("j") - 1).as("id1"),
          mix(col("e") * J + col("j")).as("id2"))
      val cc = Dedup.connectedComponentsRun(pairs, maxIterations = 30,
        microGraphMaxEdges = 100000L)
      require(cc.engine == "star",
        s"q77 pins the alternating-star engine, got '${cc.engine}'")
      cc.labels.groupBy("group_id")
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_id"),
          max(col("id")).as("max_id")) }),
    // TIMESTAMP_NTZ interval bounds end-to-end under the driver oracle:
    // the r10 testdata regen made NTZ the *native* shape of events.ts,
    // and the ledger queries all read the normalized (TimestampType)
    // view — so without this entry the NtzMicros planner path would be
    // spec-only. Click/purchase 6-hour windows re-cast to NTZ (identical
    // micros under the pinned UTC session), keyed interval self-join,
    // per-user overlap counts. The require() pins the indexed plan: a
    // recognizer regression that silently fell back to a stock join
    // would still produce right answers — at the hash-join/NLJ cost
    // cliff the engine exists to avoid — so the plan IS the assertion.
    "q78_interval_ntz" -> ((s, dir) => {
      def side(t: String) = Tables.load(s, dir, "events")
        .where(col("event_type") === t)
        .select(col("user_id"),
          col("ts").cast("timestamp_ntz").as("s0"),
          (col("ts") + expr("INTERVAL 6 HOURS")).cast("timestamp_ntz")
            .as("e0"))
      val a = side("click").select(col("user_id").as("u"),
        col("s0").as("a_s"), col("e0").as("a_e"))
      val b = side("purchase").select(col("user_id").as("u2"),
        col("s0").as("b_s"), col("e0").as("b_e"))
      val joined = a.join(b, col("u") === col("u2") &&
        col("a_s") <= col("b_e") && col("a_e") >= col("b_s"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("IntervalJoin"),
        s"q78 pins the indexed interval join on NTZ bounds; got:\n$plan")
      joined.groupBy(col("u")).agg(count(lit(1)).as("n_overlaps")) }),
    // the streaming family under the driver's batch oracle: a REAL
    // Structured-Streaming run (file-stream source -> watermarked
    // stateful aggregation -> memory sink, Trigger.AvailableNow).
    // Complete output mode makes the bounded replay exactly the batch
    // aggregation regardless of how the trigger batches the files
    // (append mode would hold back every window the final watermark
    // has not passed).
    "q71_streaming_window" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val agg = graft.streaming.StreamingOps.windowedCounts(
        stream, "ts", "event_type",
        windowLen = "1 hour", slide = "1 hour", watermark = "2 hours")
      runStreamToTable(agg, "graft_q71_mem", "complete")
        .select(col("window.start").as("h"), col("event_type"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value")) }),
    // streaming exact-dedup state machine under the oracle: one row per
    // first-seen user_id. Only the KEY is projected (which duplicate
    // survives is batch-order-dependent); the watermark delay is pinned
    // past the replayed data's span so state cannot be evicted BETWEEN
    // trigger batches — dropDuplicatesWithinWatermark only guarantees
    // dedup within the watermark, and an eviction mid-replay would
    // re-emit a key and break exactness against SELECT DISTINCT.
    "q72_streaming_dedup" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val dd = graft.streaming.StreamingOps.dedupStream(
        stream, "user_id", "ts", watermark = "3650 days")
      runStreamToTable(dd.select(col("user_id")), "graft_q72_mem",
        "append") }),
    // stream-STREAM range join under the batch oracle: two live streams
    // of the same events file (clicks vs purchases), keyed by user with
    // a ±4 h event-time tolerance. Inner joins emit each matched pair
    // exactly once regardless of how the trigger batches the replay, so
    // append mode over the bounded run equals the batch join — PROVIDED
    // buffered state is never evicted mid-replay; the watermark is
    // pinned past the data span for exactness (at real ingest rates a
    // user sets it to lateness tolerance, and the range condition bounds
    // state, the 100-TB posture documented on streamStreamRangeJoin).
    "q79_streaming_join" -> ((s, dir) => {
      val l = Tables.loadStream(s, dir, "events")
        .where(col("event_type") === "click")
        .select(col("user_id").as("u"), col("ts").as("l_ts"),
          col("event_id").as("click_id"))
      val r = Tables.loadStream(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("ts").as("r_ts"),
          col("event_id").as("purchase_id"))
      val joined = graft.streaming.StreamingOps.streamStreamRangeJoin(
        l, r, "u", "u2", "l_ts", "r_ts",
        tolerance = "4 hours", watermark = "3650 days")
      runStreamToTable(
        joined.select(col("u"), col("click_id"), col("purchase_id")),
        "graft_q79_mem", "append") }),
    // gap-based session windows on a live stream vs the batch LAG/cumsum
    // sessionization oracle: complete output mode makes the bounded
    // replay emit exactly the final merged sessions (append would hold
    // back every session the final watermark has not passed, i.e. all
    // of them under the pinned-wide watermark).
    "q80_streaming_sessions" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val sess = graft.streaming.StreamingOps.sessionize(
        stream, "ts", "user_id", gap = "30 minutes", watermark = "2 hours")
      runStreamToTable(sess, "graft_q80_mem", "complete")
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value")) }),
    // stream-STATIC enrichment under the batch oracle: each replayed
    // event picks up its customer's nation via the broadcast dim join
    // (map-side, stateless), then a complete-mode aggregation makes the
    // bounded replay exactly the batch join+group regardless of trigger
    // batching.
    "q86_streaming_enrich" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val enriched = graft.streaming.StreamingOps.enrichStream(
        stream, dim, "user_id", "c_custkey")
      val agg = enriched.groupBy(col("c_nationkey"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      runStreamToTable(agg, "graft_q86_mem", "complete")
        .select(col("c_nationkey"), col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value")) }),
    // the indexed INTERVAL join inside a streaming micro-batch:
    // stream-static inner join is stateless, so the AvailableNow replay
    // equals the q10-shaped batch oracle; StreamingSpec asserts the
    // micro-batch plan actually carries IntervalJoin (the strategy
    // claims joins in IncrementalExecution exactly as in batch)
    "q126_streaming_interval" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
        .where(col("event_id") < 2000)
        .select(col("event_id").as("a_id"),
          (col("user_id") % 20).cast("int").as("contig"),
          ((col("event_id") * 37) % 100000).cast("int").as("pos_start"),
          (((col("event_id") * 37) % 100000) + col("event_id") % 1000)
            .cast("int").as("pos_end"))
      val dim = Tables.load(s, dir, "events")
        .where(col("event_id") < 2000)
        .select(col("event_id").as("b_id"),
          (col("user_id") % 20).cast("int").as("b_contig"),
          ((col("event_id") * 53) % 100000).cast("int").as("b_start"),
          (((col("event_id") * 53) % 100000) + col("event_id") % 700)
            .cast("int").as("b_end"))
      val joined = stream.join(dim,
        col("contig") === col("b_contig") &&
          col("pos_start") <= col("b_end") &&
          col("pos_end") >= col("b_start"))
      val agg = joined.groupBy("contig").agg(count(lit(1)).as("cnt"))
      runStreamToTable(agg, "graft_q126_mem", "complete")
        .select(col("contig"), col("cnt")) }),
    // CUSTOM keyed state (flatMapGroupsWithState) under the batch
    // oracle: emit each user once when their lifetime event count first
    // reaches 50. Counts are arrival-order-independent, so the bounded
    // replay equals the batch HAVING regardless of trigger batching.
    "q92_streaming_milestones" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val hits = graft.streaming.StreamingOps.countMilestones(
        stream, "user_id", milestone = 50L)
      runStreamToTable(hits, "graft_q92_mem", "append") }),
    // EVENT-TIME TIMEOUT state (the state-EVICTION half of the custom
    // keyed-state API): a user whose last event precedes the final
    // watermark by the 60-minute gap is emitted once and their state
    // removed. Oracle: the equivalent batch HAVING over the bounded
    // replay (final watermark = global max ts − 30 min).
    "q107_streaming_inactive" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val quiet = graft.streaming.StreamingOps.inactiveUsers(
        stream, "ts", "user_id", gapMinutes = 60, watermark = "30 minutes")
      runStreamToTable(quiet, "graft_q107_mem", "append") }),
    // foreachBatch UPSERT sink: per-user aggregates merged into a
    // persisted hash-bucketed store committed via per-bucket MANIFEST
    // POINTERS over immutable data dirs, with batchId idempotence
    // stamps at both grains (a replayed batch — or bucket — is
    // skipped, never double-merged) — the production merge pattern for
    // sinks without native streaming support. Aggregates are
    // associative, so the final store equals the batch aggregation
    // however the trigger batched the files. round() at READ time (the
    // store keeps exact doubles; rounding is presentation).
    "q109_streaming_upsert" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val storeDir = java.nio.file.Files
        .createTempDirectory("graft_q109_store").toString
      sys.addShutdownHook(deleteRecursively(new java.io.File(storeDir)))
      graft.streaming.StreamingOps.upsertAggStore(
          stream, "user_id", "ts", "value", storeDir)
        .select(col("user_id"), col("n_events"), col("last_ts"),
          round(col("sum_value"), 4).as("sum_value")) }),
    // PII redaction (emails / dotted-quad IPs / 8+-digit runs → typed
    // placeholders) + per-kind hit counts. The synthetic corpus carries
    // no PII, so every third document gets a deterministic email+IP+card
    // suffix injected IDENTICALLY on both sides — the kernel then does
    // real scrubbing work the oracle string-compares. Regexes are
    // dialect-portable by construction (TextStats scaladoc); pure
    // map-side, zero shuffles.
    "q81_pii_redaction" -> ((s, dir) => {
      import graft.operators.TextStats
      val aug = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".17 card 4111111122223333")))
            .otherwise(col("text")).as("text"))
      aug.select(col("doc_id"),
        TextStats.redactPii(col("text")).as("clean"),
        size(regexp_extract_all(col("text"), lit(TextStats.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(TextStats.Ipv4Re), lit(0)))
          .cast("long").as("n_ips"),
        size(regexp_extract_all(col("text"), lit(TextStats.LongNumRe), lit(0)))
          .cast("long").as("n_nums")) }),
    // corpus vocabulary (term / corpus-frequency / doc-frequency) — the
    // tokenizer-training prep aggregation, exploded tokens rolled up
    // with map-side partial aggregation before the term-key shuffle
    "q82_vocab_stats" -> ((s, dir) => {
      graft.operators.TextStats.vocab(
        Tables.load(s, dir, "documents"), "doc_id", "text") }),
    // batched exact k-NN join (many queries at once): 20 query vectors
    // against the whole corpus, heap-bounded partial top-k per
    // partition — the shuffle carries survivors, never the full score
    // matrix. Rank-exact like q30 (ints only; no float compare).
    "q73_knn_join" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.knnJoin(emb.where(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 5) }),
    // substring dedup at span granularity over the near-dup corpus:
    // exact + near duplicates plant long shared token runs inside
    // otherwise-distinct neighbors
    "q74_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpans(dupCorpus(s, dir, near = true),
        "doc_id", "text", n = 8) }),
    // the removal half: all-but-one span cutting (owner = min doc id
    // per gram keeps its copy); string-exact compare of every
    // resulting document
    "q75_span_removal" -> ((s, dir) => {
      Dedup.cutRepeatedSpans(dupCorpus(s, dir, near = true),
        "doc_id", "text", n = 8) }),
    // fixed-size token chunking with overlap (embedding/RAG prep):
    // pure map-side, string-exact per chunk
    "q76_chunking" -> ((s, dir) => {
      TextStats.chunkTokens(Tables.load(s, dir, "documents"),
        "doc_id", "text", size = 64, overlap = 16) }),
    "q24_text_stats" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.punctRatio(col("text")).as("punct_ratio"),
        TextStats.digitRatio(col("text")).as("digit_ratio"),
        TextStats.stopwordRatio(col("text")).as("stopword_ratio"),
        TextStats.qualityScore(col("text")).as("quality")) }),
    "q25_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred")) }),
    "q26_curation" -> ((s, dir) => {
      // end-to-end curation: dedup (keep lowest id per text) + language
      // + quality gate — the composed training-data pipeline
      import org.apache.spark.sql.expressions.Window
      val c = dupCorpus(s, dir, near = false)
      // shuffle/window key = 8-byte content hash, never the document text;
      // rows ordered (text, doc_id) inside the hash group, keeping each
      // distinct text's first doc — exact even under (astronomically
      // unlikely) hash collisions, where the group holds 2 texts
      val w = Window
        .partitionBy(TextStats.contentFingerprint(col("text")))
        .orderBy(col("text"), col("doc_id"))
      c.withColumn("prev_text", lag(col("text"), 1).over(w))
        .where(col("prev_text").isNull || col("prev_text") =!= col("text"))
        .where(TextStats.langId(col("text")) === "en")
        .where(TextStats.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id")) }),
    "q27_fingerprint" -> ((s, dir) => {
      // fingerprint-based exact dedup: pair documents via equality of the
      // 8-byte content fingerprint (never shuffling text) — on the
      // constructed corpus the result must equal the text-equality pairs,
      // which IS the DuckDB oracle. The winnowing fingerprint
      // (TextStats.fingerprint) stays API+spec-covered; it is a minhash,
      // so its equality classes are similarity-, not equality-based.
      val c = dupCorpus(s, dir, near = false)
      val fp = c.select(col("doc_id"),
        TextStats.contentFingerprint(col("text")).as("fp"))
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")) }),
    "q48_dedup_embedding" -> ((s, dir) => {
      // embedding-cosine near-dup: corpus = embeddings + exact copies
      // (+1M, precision + guaranteed-recall plumbing) + near copies with
      // the last element HALVED (+2M — exponent decrement, bit-exact in
      // both engines, cosine ~0.98-1.0). Oracle = all-pairs cosine over
      // the same corpus, so green proves LSH recall AND precision.
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val exactCopies = emb.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val nearCopies = emb.where(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 2000000).as("vec_id"),
          concat(slice(col("embedding"), 1, 63),
            array(element_at(col("embedding"), 64) * lit(0.5f)))
            .as("embedding"))
      Dedup.embeddingDupPairs(
          emb.union(exactCopies).union(nearCopies), "vec_id", "embedding", 0.9)
        .select(col("id1"), col("id2"), col("cosine")) }),
    "q30_ann_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head()
        .getSeq[Float](0).toArray
      val top = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      import org.apache.spark.sql.expressions.Window
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id"))))
        .select(col("vec_id"), col("rank")) }),
    "q40_multimodal" -> ((s, dir) => {
      // binary-column plumbing: documents text bytes as the opaque payload
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      media.select(col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        graft.operators.Multimodal.frameCount(col("media"), 256).as("n_frames"),
        size(graft.operators.Multimodal.frameSample(col("media"), 256, 2))
          .as("n_sampled")) }),
    "q41_media_decode" -> ((s, dir) => {
      // real-codec round-trip, oracle-verifiable BY CONSTRUCTION: each doc
      // id deterministically defines a solid-color PNG (size + color are
      // arithmetic on the id); executors encode it with javax.imageio,
      // decode it back, and emit metadata + channel means. PNG is lossless,
      // so DuckDB recomputes every output column from the id alone —
      // a green row proves a real decode happened, not just plumbing.
      import s.implicits._
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = 16 + (id % 32).toInt
          val h = 8 + (id % 16).toInt
          val rgb = (((id * 7) % 256).toInt << 16) |
            (((id * 13) % 256).toInt << 8) | ((id * 29) % 256).toInt
          (id, graft.operators.Multimodal.encodePng(w, h, rgb))
        }.toDF("doc_id", "media")
      val dec = graft.operators.Multimodal.decodeImages(
        graft.operators.Multimodal.asMedia(media, "doc_id", "media"))
      dec.toDF().select(
        col("id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("nChannels").cast("long").as("n_channels"),
        round(element_at(col("features"), 1).cast("double"), 4).as("mean_r"),
        round(element_at(col("features"), 2).cast("double"), 4).as("mean_g"),
        round(element_at(col("features"), 3).cast("double"), 4).as("mean_b")) }),
    "q31_ann_ivf" -> ((s, dir) => {
      // persisted-layout ANN: train IVF centroids, write the corpus
      // parquet PARTITIONED BY cell, then answer the query reading only
      // the 32 nearest of 64 cells (partition-pruned scan — asserted in
      // CosineSimilaritySpec). The emitted row gates recall@10 >= 0.9
      // against the exact top-k (itself rank-verified by q30's oracle);
      // config chosen from measured recall 10/9/9 across sf0.001/0.01/0.1.
      // These near-random embeddings are ANN-hostile (top-neighbor cosine
      // ~0.37), so half the corpus must be probed for 0.9 recall; on
      // clustered real-world embeddings the same layout prunes much harder.
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.orderBy("vec_id").select("embedding").head()
        .getSeq[Float](0).toArray
      val (path, cents) = ivfLayoutFor(s, dir)
      val approx = Similarity
        .ivfTopK(s, path, "vec_id", "embedding", q, 10, cents, nProbe = 32)
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      val overlap = approx.select("vec_id")
        .intersect(exact.select("vec_id")).count()
      import s.implicits._
      Seq((10L, 64L, 32L, overlap >= 9))
        .toDF("k", "n_cells", "n_probed", "recall_ok") }),
    // train/test decontamination: the GPT-3/PaLM-style n-gram overlap
    // check as a cross-corpus LSH join (test side broadcasts at scale;
    // train never shuffles). Test set = marker variants of every 7th
    // doc, so each has a known near-match in train. Oracle: DuckDB
    // all-pairs CROSS Jaccard — proves recall AND precision.
    "q59_contamination" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val train = d.select(col("doc_id"), col("text"))
      val test = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graft dup marker")).as("text"))
      Dedup.crossCorpusDupPairs(train, test, "doc_id", "text",
        threshold = 0.8) }),
    // deterministic data-mixing samples: md5-keyed so the SAME rows are
    // selected on every run, cluster size, and engine (rand(seed) is
    // partition-order-dependent) — DuckDB recomputes each selection
    // exactly from the same hashes.
    "q60_sample_stratified" -> ((s, dir) => {
      Sampling.stratifiedSample(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", k = 5) }),
    "q61_sample_mixture" -> ((s, dir) => {
      Sampling.mixtureSample(
        Tables.load(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id",
        rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0),
        defaultRate = 0.75) }),
    "q62_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(
        Tables.load(s, dir, "documents").select("doc_id"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)) }),
    // verbatim n-gram hit contamination (GPT-3-style): count each test
    // doc's distinct 5-grams appearing anywhere in train — catches a
    // pasted chunk whole-doc Jaccard scores near 0. Test = marker
    // variants (near-verbatim, many hits) + clean synthetic docs (zero
    // hits, excluded). Oracle: DuckDB unnest + distinct-gram join.
    "q63_ngram_hits" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val train = d.select(col("doc_id"), col("text"))
      val test = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graft dup marker")).as("text"))
      Dedup.ngramHitContamination(train, test, "doc_id", "text", n = 5) }),
    // bloom-gated decontamination pointed at the TRAIN side (the actual
    // drop-list): test-set gram hashes build a compact Bloom filter
    // (distributed OR-reduce), the codegen'd membership probe prunes the
    // train gram scan map-side, and the exact verify join removes the
    // ~0.3% false positives — result is EXACTLY the exact-join answer
    // (no false negatives), which is what the DuckDB oracle computes.
    "q83_bloom_decontamination" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val train = d.select(col("doc_id"), col("text"))
      val test = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graft dup marker")).as("text"))
      Dedup.bloomNgramContamination(train, test, "doc_id", "text", n = 5) }),
    // nearest-centroid assignment (embedding-space clustering / corpus
    // bucketing): 8 fixed centroids broadcast; the argmax is over the
    // QUANTIZED integer dot product, so assignment + tie-break are
    // bit-identical across engines — DuckDB recomputes every dot and
    // the winner exactly (no float compare anywhere).
    "q84_cluster_assign" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.centroidAssign(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding") }),
    // BM25 lexical relevance to a fixed 3-term query: tf/dl computed
    // inside the row (no explode), one single-row global stats agg
    // broadcasts back into the map-side scoring pass — the corpus never
    // shuffles. Oracle recomputes the identical Okapi/Lucene formula.
    "q85_bm25" -> ((s, dir) => {
      TextStats.bm25(Tables.load(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "merge", "vector")) }),
    // incremental ingest dedup: today's batch vs the persisted
    // fingerprint store of every 3rd doc — bloom-missed docs
    // short-circuit past any join, survivors probe the store with ONE
    // map-side semi-join. Oracle: text NOT IN the seen set (fingerprint
    // equality ≡ text equality, the q27-established posture).
    "q87_incremental_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val seen = d.where(col("doc_id") % 3 === 0)
        .select(TextStats.contentFingerprint(col("text")).as("fp"))
      Dedup.dedupAgainstSeen(d.select(col("doc_id"), col("text")),
        "doc_id", "text", seen, "fp").select("doc_id") }),
    // per-source quality top-k (domain-quota curation): WindowGroupLimit
    // keeps each map task's local top-k per source before the shuffle;
    // quality is the round-6 ratio score both engines compute
    // identically (q24), ties break on doc_id.
    "q88_quality_topk" -> ((s, dir) => {
      TextStats.topKByQuality(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source", k = 10) }),
    // token-budget-capped mixture sampling: each source keeps its
    // md5-ordered prefix of docs whose cumulative chars fit 4000 —
    // quotas as budgets, not counts. Same md5 determinism contract as
    // q60/q61/q64; DuckDB recomputes the identical prefix.
    "q89_budget_sample" -> ((s, dir) => {
      Sampling.budgetSample(
        Tables.load(s, dir, "documents")
          .select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", budget = 4000L) }),
    // exact per-source length percentiles off the count histogram —
    // integer percentile-disc arithmetic end to end (no float), only
    // the histogram rides the shuffle
    "q90_length_percentiles" -> ((s, dir) => {
      TextStats.lengthPercentiles(
        Tables.load(s, dir, "documents").select("source", "n_chars"),
        "source", "n_chars", percents = Seq(50, 95, 99)) }),
    // ORC source/sink round-trip: documents written once to an ORC
    // layout (write-once read-many, like the IVF layout), scanned back
    // through Spark's ORC reader (same pushdown/pruning machinery as
    // parquet) and aggregated — oracle reads the original parquet.
    "q91_orc_roundtrip" -> ((s, dir) => {
      val path = orcLayoutFor(s, dir)
      s.read.orc(path).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars")) }),
    // day-partitioned parquet sink + partition-pruned scan: the query
    // plans against ONE day directory (PartitionFilters prune at
    // planning time — require()d on the scan's selected partitions),
    // the 100-TB events-lake layout. Oracle filters the flat table.
    "q95_partitioned_sink" -> ((s, dir) => {
      val path = dayLayoutFor(s, dir)
      val out = s.read.parquet(path)
        .where(col("day") === lit(java.sql.Date.valueOf("2024-01-15")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
      // the pruning IS the point: a regression to a full-history scan
      // would still return correct rows — fail instead
      val scans = out.queryExecution.executedPlan.collectLeaves()
      val pruned = scans.exists(_.toString.contains("PartitionFilters: [isnotnull(day"))
      require(pruned, "day-partitioned scan lost its PartitionFilters")
      out }),
    // edit-distance verify of candidate pairs: planted first-token
    // mutations (doc_id+5M twins) must pass the threshold-bounded
    // levenshtein; unrelated neighbor-id control pairs must be cut
    // (threshold form early-exits at -1). Both engines compute the
    // identical classic Levenshtein over the same constructed corpus.
    "q94_edit_distance" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val mut = d.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          regexp_replace(col("text"), "^(\\S+) ", "graftmut ").as("text"))
      val corpus = d.unionByName(mut)
      val pairs = d.where(col("doc_id") % 11 === 0)
        .select(col("doc_id").as("left_id"),
          (col("doc_id") + 5000000).as("right_id"))
        .unionByName(d.where(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("left_id"),
            (col("doc_id") + 1).as("right_id")))
      Dedup.editDistancePairs(corpus, "doc_id", "text", pairs,
        maxDist = 10) }),
    // custom Catalyst AGGREGATE (TypedImperativeAggregate): per-label
    // quantized component sums — the mean-pool/centroid building block.
    // Long sums are order-independent, so the result is hash-exact on
    // any engine/partitioning; exploded to (label, dim) rows for the
    // oracle compare.
    "q93_vecsum_agg" -> ((s, dir) => {
      Tables.load(s, dir, "embeddings")
        .groupBy("label")
        .agg(Similarity.quantizedVecSum(col("embedding")).as("sum_q_vec"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"),
          posexplode(col("sum_q_vec")).as(Seq("dim", "sum_q")))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("sum_q"), col("n_vecs")) }),
    // deterministic sequence packing (concat-then-chunk): hash buckets
    // pack independently (bucketChars=1 -> 16 buckets here so the small
    // corpus produces multi-row packs; the default 4096 is the cluster
    // scale-out knob); pack_id = the 4096-char chunk of the bucket's
    // md5-ordered stream the doc's start falls in. Oracle: identical
    // running-sum window in DuckDB.
    "q64_seq_packing" -> ((s, dir) => {
      Sampling.packSequences(
        Tables.load(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", capacity = 4096L, bucketChars = 1)
        .select("doc_id", "bucket", "pack_id") }),
    // within-document repetition (Gopher-style duplicate-bigram filter);
    // corpus = documents plus synthetic degenerate-loop docs (each 3rd
    // doc's first 3 words repeated 10x) that must score high
    "q65_repetition" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val looped = d.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat_ws(" ", (1 to 10).map(_ =>
            concat_ws(" ", slice(Dedup.words(col("text")), 1, 3))): _*)
            .as("text"))
      val corpus = d.select(col("doc_id"), col("text")).union(looped)
      corpus.select(col("doc_id"),
        TextStats.repetitionRatio(col("text")).as("rep_ratio")) }),
    // SemDeDup (cluster-sharded semantic near-dup pruning): corpus =
    // embeddings + planted last-element-halved near copies (+2M, same
    // bit-exact construction as q48); centroids = the first 8 vectors
    // (q84's reference set). Survivors = points with no >=0.92-cosine
    // lower-id cluster-mate; the oracle replays assignment (integer
    // argmax) + within-cluster pairs + prune, so green proves BOTH the
    // sharding and the prune decision end to end.
    "q96_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val nearCopies = emb.where(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 2000000).as("vec_id"),
          concat(slice(col("embedding"), 1, 63),
            array(element_at(col("embedding"), 64) * lit(0.5f)))
            .as("embedding"))
      Similarity.semanticDedup(emb.union(nearCopies), "vec_id",
        "embedding", emb.where(col("vec_id") < 8), "vec_id", "embedding",
        threshold = 0.92) }),
    // corpus-unigram-LM doc scoring (CCNet-style cheap perplexity
    // proxy): mean ln p(term) over each doc's token instances, the
    // unigram table broadcast map-side — token instances never shuffle
    "q97_unigram_logprob" -> ((s, dir) => {
      TextStats.unigramLogProb(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text") }),
    // one BPE merge round's pair statistic: adjacent char-pair counts
    // weighted by word frequency, top-20 — pairs explode from the
    // VOCAB, not the corpus
    "q98_bpe_pairs" -> ((s, dir) => {
      TextStats.bpePairCounts(
        Tables.load(s, dir, "documents").select("text"), "text", k = 20) }),
    // sketch-based distinct counting under an accuracy gate: HLL++
    // (the 100-TB cardinality path — no expand, constant memory) vs the
    // exact count; the oracle pins exact counts AND within_5pct=TRUE,
    // so a sketch drifting past 5% breaks the hash
    "q99_approx_distinct" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_cnt"),
          approx_count_distinct(col("user_id"), 0.02).as("__approx"))
        .select(col("event_type"), col("exact_cnt"),
          (abs(col("__approx") - col("exact_cnt")) <=
            col("exact_cnt") * lit(0.05)).as("within_5pct")) }),
    // sketch percentiles under an accuracy gate: percentile_approx
    // (GK summaries — mergeable, constant memory, single pass: the
    // 100-TB quantile path; an exact percentile needs the full value
    // set per group) vs the exact interpolated percentile. Like q99,
    // only the EXACT value and the gate boolean are output — the
    // sketch's merge order varies with shuffle arrival, so its raw
    // value is not hash-stable, but the 2% gate is.
    "q110_approx_percentile" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("__exact"),
          expr("percentile_approx(value, 0.5D, 10000)").as("__apx"))
        .select(col("event_type"), round(col("__exact"), 6).as("exact_p50"),
          (abs(col("__apx") - col("__exact")) <=
            greatest(abs(col("__exact")) * lit(0.02), lit(0.02)))
            .as("within_2pct")) }),
    // relational PIVOT: day-of-week event counts rotated into columns
    // with an EXPLICIT value list (Seq(0..6)) — the implicit form runs
    // a distinct-scan first to discover values, a full extra pass at
    // 100 TB. Absent combinations coalesce to 0 (pivot yields null).
    // dow normalized to DuckDB's 0=Sunday convention.
    "q111_pivot" -> ((s, dir) => {
      val p = Tables.load(s, dir, "events")
        .withColumn("dow", dayofweek(col("ts")) - 1)
        .groupBy("event_type")
        .pivot("dow", Seq(0, 1, 2, 3, 4, 5, 6))
        .agg(count(lit(1)))
      p.select(col("event_type") +:
        (0 to 6).map(d => coalesce(col(s"$d"), lit(0L)).as(s"d$d")): _*) }),
    // BPE tokenizer APPLICATION (q98 trains pair stats; this applies a
    // trained merge table): per-doc token counts under the real ranked
    // greedy merge loop. The entry's merge pairs are letter-disjoint,
    // which makes the oracle EXACT by pure counting (merges can never
    // interact or overlap, so tokens = chars − Σ pair occurrences);
    // the spec exercises the multi-level ranked path the oracle can't
    // express. Pure map-side — the 100-TB token-budget pass.
    "q112_bpe_tokens" -> ((s, dir) => {
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextStats.bpeTokenCount(col("text"),
          Seq("t" -> "h", "e" -> "r", "i" -> "n")).as("n_tokens")) }),
    // data-quality gates (the ingest validation pass): ALL row-level
    // checks (null / range) computed in ONE aggregation over ONE scan
    // — per-check scans would multiply the 100-TB read — plus one
    // anti-join for referential integrity, unpivoted to a per-check
    // report. A violated gate flips `pass` and breaks the hash.
    "q113_quality_gates" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val rowChecks = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
          .as("null_orderkey"),
        sum(when(col("l_quantity") < 0 || col("l_quantity") > 60, 1L)
          .otherwise(0L)).as("qty_out_of_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.11, 1L)
          .otherwise(0L)).as("disc_out_of_range"))
      val orphans = li.join(ord,
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitems"))
      rowChecks.crossJoin(orphans)
        .select(expr("stack(4, " +
          "'null_orderkey', null_orderkey, " +
          "'qty_out_of_range', qty_out_of_range, " +
          "'disc_out_of_range', disc_out_of_range, " +
          "'orphan_lineitems', orphan_lineitems) AS (check_name, violations)"))
        .select(col("check_name"), col("violations"),
          (col("violations") === 0L).as("pass")) }),
    // event-time RANGE-frame window: each event's trailing-hour
    // per-user activity (count + value sum) — the sliding feature-
    // engineering pass. RANGE frames bound by a time interval (not row
    // counts) need only the user's partition sorted once; state is the
    // frame, not the history. Micros arithmetic keeps the frame
    // boundary exact and engine-portable.
    "q115_rolling_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_trailing_hour"),
          round(sum(col("value")).over(w), 4).as("sum_trailing_hour")) }),
    // one engine-exact Lloyd iteration: integer-argmax routing (q84's
    // assignment), per-cluster exact quantized vector sums (q93's
    // aggregate), mean_q = round(sum_q/n) — bit-identical updated
    // centroids on any engine/partitioning. The oracle replays the
    // whole step.
    "q100_kmeans_iter" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.kmeansIterate(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 8), "vec_id", "embedding") }),
    // JSONL source/sink round-trip: documents written once as
    // newline-delimited JSON (the de-facto LLM corpus interchange
    // format), read back with an EXPLICIT schema (one pass — inference
    // would double-scan at 100 TB) and aggregated with a quality
    // filter, proving text survives the JSON string escaping round
    // trip byte-exactly. Oracle reads the original parquet.
    "q101_jsonl_roundtrip" -> ((s, dir) => {
      val path = jsonlLayoutFor(s, dir)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      val orig = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text").as("orig_text"))
      s.read.schema(schema).json(path)
        .join(orig, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(when(col("text") === col("orig_text"), 0L).otherwise(1L))
            .as("n_mismatch")) }),
    // co-located bucketed join: both sides were hash-bucketed on the
    // join key at write time (bucketedTablesFor), so the sort-merge
    // join consumes the bucket layout directly — the plan assert
    // requires ZERO Exchange anywhere under the join. The `merge` hint
    // pins SMJ (a broadcast plan would also be shuffle-free here but
    // wouldn't exercise the bucketed path that matters when BOTH sides
    // are 100-TB-large). Oracle joins the flat parquet tables.
    "q102_bucketed_join" -> ((s, dir) => {
      val (tOrders, tCust) = bucketedTablesFor(s, dir)
      val joined = s.table(tOrders).hint("merge")
        .join(s.table(tCust), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"q102 expects the hinted sort-merge join; got:\n$plan")
      // the layout IS the point: a regression that re-shuffles either
      // bucketed side would still produce correct rows — fail instead
      require(!plan.contains("Exchange"),
        s"bucketed join must read co-located buckets shuffle-free; got:\n$plan")
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_price")) }),
    // dynamic partition pruning over the day-partitioned lake: the
    // filter lives on the DIM side (days falling on the 15th), so
    // static pruning sees nothing — the fact scan is pruned at RUNTIME
    // from the broadcast dim's key set (the plan assert requires the
    // DynamicPruningExpression in the scan's partition filters). The
    // 100-TB shape: "scan only the days the dimension selects" without
    // hand-propagating the date predicate to the fact table.
    "q103_dpp" -> ((s, dir) => {
      val path = dayLayoutFor(s, dir)
      val fact = s.read.parquet(path)
      val dim = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("day")).distinct()
        .where(dayofmonth(col("day")) === 15)
      val out = fact.join(dim, "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
      val plan = out.queryExecution.executedPlan.toString.toLowerCase
      require(plan.contains("dynamicpruning"),
        s"q103 expects a runtime-pruned fact scan; got:\n$plan")
      out }),
    // product quantization end to end — codebook (subvectors of the
    // first 16 vectors, the q84-style fixed reference set) → encode
    // (every vector to 8 small codes; shuffles carry only narrow code
    // rows, never a float vector) → ADC top-10 against vec 0's lookup
    // table. All quantized-integer arithmetic, so the oracle replays
    // codes AND distances exactly — a hash-green proves the whole
    // compression + ranking path, not just row counts.
    "q104_pq_adc" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val cb = Similarity.pqCodebook(emb.where(col("vec_id") < 16),
        "vec_id", "embedding", m = 8)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8)
      val lut = Similarity.pqLut(emb.where(col("vec_id") === 0),
        "vec_id", "embedding", cb, m = 8)
      Similarity.pqAdcTopK(codes, "vec_id", "codes", lut, k = 10) }),
    // runtime bloom-filter join pruning: the dim-side filter is bloomed
    // across to the FACT side before its shuffle, so rows that cannot
    // join are dropped at the scan instead of riding the exchange — the
    // non-partition-column sibling of q103's DPP, and the shuffle-volume
    // lever at 100 TB (most lineitems die before the wire). Both
    // thresholds are pinned down only because test data is small: at
    // real scale the 10 GB application-side default is what makes the
    // rule fire exactly when the shuffle is worth saving. The pins land
    // on the entry's own session clone, so they cannot leak into other
    // entries.
    "q105_runtime_filter" -> ((s, dir) => {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "1KB")
      // creation-side cap raised in step with the fake-small broadcast
      // threshold: without column stats the filtered dim's size
      // estimate is its scan size, which crosses the 10 MB default on
      // the 10x scale slice and would silently drop the filter there
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "creationSideThreshold", "512MB")
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
        .where(col("o_totalprice") > 450000.0)
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString.toLowerCase
      require(plan.contains("might_contain"),
        s"q105 expects a runtime bloom filter on the fact side; got:\n$plan")
      joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_extendedprice"), 2).as("sum_price")) }),
    // sorted-write data clustering + row-group skipping: documents were
    // written ONCE globally ordered by n_chars, so the range predicate
    // decodes only the row groups whose min/max stats overlap it — the
    // require() measures the scan's actual numOutputRows against the
    // table size and fails if the layout stopped skipping (an unsorted
    // write passes every row through the same query). Oracle filters
    // the flat table.
    "q106_sorted_layout" -> ((s, dir) => {
      val path = sortedLayoutFor(s, dir)
      val probe = s.read.parquet(path)
        .where(col("n_chars").between(100, 160))
      val qe = probe.queryExecution
      qe.executedPlan.executeCollect()
      val scanRows = qe.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      val total = s.read.parquet(path).count()
      // under ~200 rows the file is one row group and nothing CAN skip
      // (sf0.001-sized inputs) — only flag regressions where skipping
      // was physically possible
      require(scanRows < total || total < 200,
        s"sorted layout must skip row groups; scan read $scanRows of $total")
      s.read.parquet(path).where(col("n_chars").between(100, 160))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars")) }),
    // small-file COMPACTION — the lake-maintenance op: streaming
    // ingest leaves hundreds of tiny files per partition (every one a
    // task + an open/close + a footer at read time; at 100 TB the
    // file COUNT, not the bytes, kills scan planning). The entry
    // builds a deliberately fragmented day layout, compacts it to one
    // file per day with a partition-key repartition (shuffle moves
    // each row once, writes land pre-grouped), require()s the file
    // count actually collapsed, and aggregates the compacted lake —
    // proving compaction moved, not dropped, rows. Oracle aggregates
    // the flat table.
    "q117_compaction" -> ((s, dir) => {
      val base = fragmentedLayoutFor(s, dir)
      val compacted = s"$base.compacted"
      if (!new java.io.File(compacted).exists()) {
        s.read.parquet(base)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(compacted)
      }
      def parquetFiles(p: String): Int = {
        def walk(f: java.io.File): Int = {
          val cs = f.listFiles()
          if (cs == null) 0
          else cs.map(c => if (c.isDirectory) walk(c)
            else if (c.getName.endsWith(".parquet")) 1 else 0).sum
        }
        walk(new java.io.File(p))
      }
      val (before, after) = (parquetFiles(base), parquetFiles(compacted))
      require(after * 4 <= before,
        s"compaction must collapse the file count ($before -> $after)")
      s.read.parquet(compacted)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value")) }),
    // Z-ORDER clustering (2-D data skipping): the layout interleaves
    // the bits of (user % 1024, day-of-month) at write time, so the
    // 2-D range predicate below prunes row groups on BOTH dimensions
    // — the require() measures the scan's numOutputRows as in q106.
    // A 1-D sort gives this for one key only; at 100 TB this is the
    // DSIR-style importance resampling for target-domain selection:
    // unigram log-likelihood-ratio of a target LM (docs from three
    // sources) over the background LM, add-one smoothed over the shared
    // vocabulary; top-50 by (importance DESC, doc_id) via
    // TakeOrderedAndProject, ranked after the cut.
    "q119_importance" -> ((s, dir) => {
      TextStats.importanceTopK(
        Tables.load(s, dir, "documents")
          .select("doc_id", "text", "source"),
        "doc_id", "text",
        col("source").isin("src1", "src2", "src3"), k = 50) }),
    // CCNet-style interpolated-bigram LM score (perplexity filter):
    // lambda*p(w_i|w_{i-1}) + (1-lambda)*p(w_i), both MLE from the
    // corpus itself, mean-log per document
    "q120_bigram_logprob" -> ((s, dir) => {
      TextStats.bigramLogProb(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", lambda = 0.5) }),
    // quality-ranked canonical selection: resolve near-dup pairs into
    // groups, keep each group's HIGHEST-quality member (q58 keeps the
    // lowest id) — ties broken by doc_id; the recursive-CTE closure +
    // per-group argmax oracle replays the same choice
    "q121_dedup_best" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = true)
      val pairs = Dedup.minhashDupPairs(c, "doc_id", "text", threshold = 0.8)
        .select(col("id1"), col("id2"))
      Dedup.keepBest(c, "doc_id", pairs,
          Seq(TextStats.qualityScore(col("text")).desc))
        .select(col("doc_id")) }),
    // asymmetric containment dedup: shingle-subset pairs (the quote-
    // inside-a-page duplicate class Jaccard misses) — bottom-k sketch
    // probes vs the linear inverted index, exact verify at >= 0.9
    "q122_containment" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = true)
      Dedup.containmentDupPairs(c, "doc_id", "text", threshold = 0.9) }),
    // incremental NEAR-dedup: the batch screened against a seen store
    // by exact n-gram Jaccard (LSH candidates, seen side never
    // shuffles) — q87's near-dup sibling; seen = every 3rd doc,
    // slightly edited, so the drop decision is genuinely fuzzy
    "q124_near_dedup_seen" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val seen = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("sid"),
          concat(col("text"), lit(" graft dup marker")).as("stext"))
      Dedup.nearDedupAgainstSeen(d, "doc_id", "text", seen, "sid", "stext",
        threshold = 0.8).select("doc_id") }),
    // STREAMING drift monitor: a live stream's event-type distribution
    // (complete-mode counts, bounded replay) against a static
    // reference through the same PSI tail as q128/q129 — the stream
    // deliberately loses its 'view' events, so that bucket's PSI term
    // split-leakage audit — composition, not a new operator: the
    // deterministic hash split (q62) assigned over the near-dup corpus,
    // then the leakage matrix (q134) on the split label. The number an
    // eval designer must check: near-dup pairs crossing train/test are
    // soft contamination a doc-level split cannot see.
    "q136_split_leakage" -> ((s, dir) => {
      val c = Sampling.hashSplit(dupCorpus(s, dir, near = true),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.sourceLeakage(c, "doc_id", "text", "split",
        threshold = 0.8) }),
    // size-capped LSH dedup: q21's pipeline with the oversized-bucket
    // guard armed (cap 64) — the production bound on the quadratic
    // within-bucket expansion. On this corpus every dup bucket is far
    // under the cap (bucket profile knee is at 2), so the result is
    // identical to q21's and the exact-dup oracle pins that the guard
    // armed does not cost recall here; DedupSpec proves the cap FIRES
    // on an oversized synthetic family.
    "q137_dedup_minhash_capped" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = false)
      verifyByEquality(Dedup.lshCandidatePairs(c, "doc_id", "text",
        maxBucketSize = 64), c) }),
    // per-doc shingle novelty: fraction of a doc's distinct 3-gram
    // shingles with corpus df = 1 (singleton ownership via min(doc_id)
    // — no join back to the exploded rows); the diversity-weighting
    // signal, inverse of the dup family
    "q133_shingle_novelty" -> ((s, dir) => {
      TextStats.shingleNovelty(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text") }),
    // cross-source duplicate leakage matrix over the near-dup corpus
    // with synthetic mirror/scrape sources: near-dup pairs (>= 0.8
    // Jaccard, same LSH recall precondition the q21/q23 oracles pin)
    // joined back to each side's source, counted per unordered source
    // pair — the mixture-design evidence a curator reads before
    // weighting sources
    "q134_source_leakage" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "source")
      val mirror = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
          lit("mirror").as("source"))
      val scrape = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graft dup marker")).as("text"),
          lit("scrape").as("source"))
      Dedup.sourceLeakage(docs.union(mirror).union(scrape),
        "doc_id", "text", "source", threshold = 0.8) }),
    // vocabulary coverage curve: smallest frequency-ranked vocab head
    // reaching 50/90/95/99% of corpus token mass — exact integer
    // cumsum over the vocab-bounded ranking window
    "q135_vocab_coverage" -> ((s, dir) => {
      TextStats.vocabCoverage(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text")
        .orderBy("threshold") }),
    // adjacent-pair PMI (phrase mining / collocation ranking):
    // ln(p(w1,w2)/(p(w1)p(w2))) for bigrams seen >= 5 times, computed
    // as ONE division expression so both engines replay the identical
    // double arithmetic left to right
    "q139_pmi_bigrams" -> ((s, dir) => {
      TextStats.pmiBigrams(
        Tables.load(s, dir, "documents").select("text"),
        "text", minCount = 5L) }),
    // Zipf-law least-squares fit over the top-1000 vocab head — the
    // corpus-naturalness one-glance check (natural prose slope ~ -1);
    // closed-form regression over vocab-bounded sums
    "q140_zipf_fit" -> ((s, dir) => {
      TextStats.zipfFit(
        Tables.load(s, dir, "documents").select("text"),
        "text", topN = 1000) }),
    // shared-prefix boilerplate clusters over the near-dup corpus:
    // md5 of the first-16-token stream, clusters with 2+ members —
    // the template/mirror first cut before any pairwise similarity
    // (the near docs append their marker at the END, so every dup
    // family shares its prefix fingerprint)
    "q141_prefix_clusters" -> ((s, dir) => {
      TextStats.prefixClusters(dupCorpus(s, dir, near = true),
        "doc_id", "text", k = 16) }),
    // token-budget mixture plan (the pretraining "data recipe" table):
    // per-source token inventory, temperature-flattened share of a
    // 100k-token budget (tau = 0.5, the q131 knob), and the epochs the
    // share implies — quantized-integer weights keep the arithmetic
    // bit-replayable
    "q142_token_budget_plan" -> ((s, dir) => {
      Sampling.tokenBudgetPlan(
        Tables.load(s, dir, "documents").select("text", "source"),
        "text", "source", budgetTokens = 100000L, tau = 0.5) }),
    // BM25 top-k retrieval JOIN (training-data attribution / targeted
    // decontamination): best 10 docs per query row, per-term scores
    // quantized to integer micro-units at the row level so the
    // per-(query, doc) SUM is order-independent and engine-exact —
    // corpus prunes against the broadcast query vocabulary before its
    // one narrow shuffle; the per-query cut is a WindowGroupLimit
    "q143_bm25_retrieve" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark table join scan"),
        (2L, "slow query merge vector"),
        (3L, "data window group sort")).toDF("query_id", "query_text")
      TextStats.bm25Retrieve(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", qs, "query_id", "query_text", k = 10) }),
    // per-source template mining: the 5 trigrams carried by the most
    // documents of each source (df ties broken by gram) — the
    // boilerplate-inventory table removal rules are written from;
    // grams dedup in-row, the one exchange is gram-vocabulary-bounded
    "q144_template_ngrams" -> ((s, dir) => {
      TextStats.templateNgrams(
        Tables.load(s, dir, "documents").select("doc_id", "text", "source"),
        "doc_id", "text", "source", n = 3, k = 5) }),
    // spikes exactly as a production skew would
    "q132_streaming_drift" -> ((s, dir) => {
      val ref = Tables.load(s, dir, "events")
        .where(col("event_id") % 2 === 0)
        .groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n_a"))
      val live = Tables.loadStream(s, dir, "events")
        .where(col("event_id") % 2 === 1 && col("event_type") =!= "view")
        .groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n_b"))
      val liveCounts = runStreamToTable(live, "graft_q132_mem", "complete")
      TextStats.psiReport(ref, liveCounts, domain = 8) }),
    // temperature-flattened mixture (mT5/UniMax): p_g ∝ n_g^0.5 at
    // half the corpus budget — head sources flatten toward the tail;
    // quantized integer weights keep the rates bit-replayable
    "q131_temperature_mixture" -> ((s, dir) => {
      Sampling.temperatureMixture(
        Tables.load(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", tau = 0.5, targetFraction = 0.5)
        .select("doc_id", "source") }),
    // diversity-aware selection: k high-scoring vectors spread across
    // the centroid cells (every cell yields its best before any cell
    // yields its second) — score = quantized self-dot (vector energy),
    // so the oracle replays routing, scoring and pick order exactly
    "q130_diverse_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val cents = emb.where(col("vec_id") < 8)
      val scores = emb.select(col("vec_id"),
        graft.operators.Similarity.quantizedDot(
          col("embedding"), col("embedding")).as("energy_q"))
      graft.operators.Similarity.diverseTopK(emb, "vec_id", "embedding",
        cents, "vec_id", "embedding",
        scores, "vec_id", "energy_q", k = 24) }),
    // numeric-score drift: quality-distribution PSI between the even
    // snapshot and the odd snapshot with injected punct/digit damage
    // (lowers the quality score) — 10 fixed bins on [0,1)
    "q129_quality_drift" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val a = d.where(col("doc_id") % 2 === 0)
        .select(TextStats.qualityScore(col("text")).as("quality"))
      val b = d.where(col("doc_id") % 2 === 1)
        .select(TextStats.qualityScore(
          concat(col("text"), lit(" !!!! ???? 1234567890"))).as("quality"))
      TextStats.scoreDriftPsi(a, b, "quality", bins = 10) }),
    // corpus drift monitor: PSI between the even-id snapshot and the
    // odd-id snapshot with drift-injected texts (appended tokens shift
    // bucket mass) — per-bucket add-one-smoothed PSI terms
    "q128_term_drift" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val a = d.where(col("doc_id") % 2 === 0).select("text")
      val b = d.where(col("doc_id") % 2 === 1)
        .select(concat(col("text"), lit(" zdrift zmarker ztokens"))
          .as("text"))
      TextStats.termDriftPsi(a, b, "text", buckets = 32) }),
    // the composed pipeline with an AUDIT TRAIL: every doc gets keep +
    // the first stage that dropped it (lang -> quality -> near_dup ->
    // contained). nearThreshold 0.95 deliberately lets ~0.94-Jaccard
    // near copies through to the containment stage, so all four
    // reasons fire on this corpus.
    "q127_curation_report" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = true)
      graft.operators.Curation.curationReport(c, "doc_id", "text",
        langs = Seq("en"), minQuality = 0.55,
        nearThreshold = 0.95, containThreshold = 0.9) }),
    // the consuming end: drop contained docs (mutual classes keep the
    // lowest id) — q122's pairs resolved to the surviving corpus
    "q123_containment_dedup" -> ((s, dir) => {
      val c = dupCorpus(s, dir, near = true)
      val pairs = Dedup.containmentDupPairs(c, "doc_id", "text",
        threshold = 0.9)
      Dedup.removeContained(c, "doc_id", pairs).select(col("doc_id")) }),
    // difference between reading a stripe and reading everything when
    // queries filter two dims.
    "q118_zorder" -> ((s, dir) => {
      val path = zLayoutFor(s, dir)
      val pred = col("ux").between(100, 160) && col("dom").between(5, 9)
      val probe = s.read.parquet(path).where(pred)
      val qe = probe.queryExecution
      qe.executedPlan.executeCollect()
      val scanRows = qe.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      val total = s.read.parquet(path).count()
      require(scanRows * 2 < total || total < 2000,
        s"z-order layout must skip row groups; scan read $scanRows of $total")
      s.read.parquet(path).where(pred)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value")) }),
    // IVF-PQ: cell-routed product quantization — the production ANN
    // shape (coarse quantizer routes, fine codes rank). Every vector
    // gets a cell (integer-argmax over the 8 reference centroids) and
    // 8 PQ codes; the query probes its 2 nearest cells and ADC-ranks
    // only their members. At 100 TB the cell is a partition key (the
    // q31 IVF layout) so the probe READS ~nprobe/K of the codes; here
    // the cell filter is the in-memory form of that prune. Exact
    // integer arithmetic end to end — the oracle replays routing,
    // codes, probe choice, and ranking.
    "q108_ivfpq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val cents = emb.where(col("vec_id") < 8)
      val cells = Similarity.centroidAssign(emb, "vec_id", "embedding",
        cents, "vec_id", "embedding")
      val cb = Similarity.pqCodebook(emb.where(col("vec_id") < 16),
        "vec_id", "embedding", m = 8)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8)
      val probes = emb.where(col("vec_id") === 0)
        .crossJoin(broadcast(cents.select(col("vec_id").as("cid"),
          col("embedding").as("cvec"))))
        .select(col("cid"),
          Similarity.quantizedDot(col("embedding"), col("cvec")).as("dq"))
        .orderBy(col("dq").desc, col("cid")).limit(2)
      val candidates = codes
        .join(cells.select(col("vec_id"), col("cluster_id")), "vec_id")
        .join(broadcast(probes.select(col("cid").as("cluster_id"))),
          "cluster_id")
      val lut = Similarity.pqLut(emb.where(col("vec_id") === 0),
        "vec_id", "embedding", cb, m = 8)
      Similarity.pqAdcTopK(candidates, "vec_id", "codes", lut, k = 10) })
  ).map { case (name, fn) => name -> scoped(fn) }

  /** All-pairs word-trigram Jaccard over the near corpus, as CTEs ending
    * in `jp(id1, id2, jaccard)` — shared by the q23 pair oracle and the
    * q56 group oracle. */
  /** Word + distinct-3-gram-shingle CTEs over any `(doc_id, text)`
    * source — shared by the Jaccard, containment and curation oracles
    * (CTE names parameterized so one oracle can shingle two sets). */
  private def shingleCtesOver(src: String, w: String, s: String): String =
    s""",
       |$w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws FROM $src),
       |$s AS (SELECT doc_id,
       |        CASE WHEN len(ws) >= 3
       |             THEN list_distinct(list_transform(range(1, len(ws) - 1),
       |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |             ELSE [array_to_string(ws, ' ')] END AS sh
       |      FROM $w)""".stripMargin

  private val shingleCtes: String = shingleCtesOver("corpus", "w", "s")

  private val jaccardPairsCtes: String = shingleCtes +
    """,
      |jp AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2,
      |         round(len(list_intersect(a.sh, b.sh)) * 1.0 /
      |               len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)""".stripMargin

  private val jaccardOracle: String = corpusNearCte + jaccardPairsCtes +
    "\nSELECT id1, id2, jaccard FROM jp WHERE jaccard >= 0.8"

  /** nodes/edges/reach transitive-closure CTEs over a `pp(id1, id2)` pair
    * set — the ONE copy shared by the q56/q57/q58/q68 oracles. Callers
    * declare `pp AS MATERIALIZED`: DuckDB inlines a plain CTE once per
    * reference, and these read `pp` four times (the all-pairs Jaccard
    * behind it is most of an oracle's time). */
  private val closureCtes: String =
    """,
      |nodes AS (SELECT id1 AS id FROM pp UNION SELECT id2 AS id FROM pp),
      |edges AS (SELECT id1 AS src, id2 AS dst FROM pp
      |          UNION SELECT id2 AS src, id1 AS dst FROM pp),
      |reach(id, lbl) AS (
      |  SELECT id, id AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id)""".stripMargin

  /** Transitive closure of the >=0.8 Jaccard pairs as a DuckDB recursive
    * CTE: min reachable id over the symmetric edge list = the connected
    * component / duplicate-group id the Spark side computes with
    * `Dedup.connectedComponents`. */
  private val dupGroupsOracle: String =
    "WITH RECURSIVE " + corpusNearBody + jaccardPairsCtes +
    """,
      |pp AS MATERIALIZED (SELECT id1, id2 FROM jp WHERE jaccard >= 0.8)""".stripMargin +
    closureCtes +
    "\nSELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id"

  /** q58 oracle: the canonical survivors — every corpus document except
    * non-minimum members of a closure group (same recursive CTE as q56). */
  private val dupCanonicalOracle: String =
    "WITH RECURSIVE " + corpusNearBody + jaccardPairsCtes +
    """,
      |pp AS MATERIALIZED (SELECT id1, id2 FROM jp WHERE jaccard >= 0.8)""".stripMargin +
    closureCtes +
    """,
      |g AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)
      |SELECT c.doc_id FROM corpus c
      |WHERE c.doc_id NOT IN (SELECT id FROM g WHERE id <> group_id)""".stripMargin

  /** q122 oracle: exact all-pairs containment over the near-dup corpus
    * — `|sh(A) ∩ sh(B)| / |sh(A)|` on the same distinct-shingle sets as
    * the Jaccard oracles, both directions (a <> b, not a < b).
    *
    * DATA PRECONDITION (also asserted by the randomized containment
    * spec): the Spark side's candidate sketch is bottom-`probeK`
    * (k = 8), so its recall is exact only while every >= 0.9-containment
    * pair in the fixture differs by fewer than 8 shingles OR shares a
    * bottom-8 sketch hash that survives the `maxShingleDf` hot-key cut.
    * The generated near-dup corpus satisfies this by construction; if a
    * future fixture regen introduces a wide-gap near-containment pair,
    * a q122/q123/q127 hash miss means the FIXTURE left the operator's
    * documented recall envelope, not that the operator broke. */
  private val containmentOracle: String = corpusNearCte + shingleCtes +
    """
      |SELECT * FROM (
      |  SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
      |         round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6) AS containment
      |  FROM s a JOIN s b ON a.doc_id <> b.doc_id)
      |WHERE containment >= 0.9""".stripMargin

  /** q123 oracle: q122's containment pairs resolved with the
    * removeContained rule — a contained doc is a loser unless the
    * reverse pair exists and it has the lower id. */
  private val containmentDedupOracle: String = corpusNearCte + shingleCtes +
    """,
      |cp AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
      |           round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6) AS containment
      |    FROM s a JOIN s b ON a.doc_id <> b.doc_id)
      |  WHERE containment >= 0.9),
      |losers AS (
      |  SELECT DISTINCT p.id_contained AS loser
      |  FROM cp p LEFT JOIN cp r
      |    ON r.id_contained = p.id_container
      |   AND r.id_container = p.id_contained
      |  WHERE r.id_contained IS NULL OR p.id_contained > p.id_container)
      |SELECT doc_id FROM corpus
      |WHERE doc_id NOT IN (SELECT loser FROM losers)""".stripMargin

  /** q121 oracle: the q58 closure groups, but each group keeps its
    * argmax member by (quality DESC, doc_id) — quality is the exact q24
    * formula (rounded ratios, then the rounded composite) over the
    * near-dup corpus. Non-members pass through. */
  /** The q24 quality formula as `q(doc_id, quality)` CTEs over any
    * `(doc_id, text)` source (rounded ratios first, then the rounded
    * composite — the exact Spark operation order). */
  private def qualityCteOver(src: String, qbase: String = "qbase",
      q: String = "q"): String =
    s""",
       |$qbase AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) END AS n_tok,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g'))) * 1.0 / length(text) END, 6) AS pr,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END, 6) AS dr,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
       |  FROM $src),
       |$q AS (
       |  SELECT doc_id,
       |    round((least(n_tok / 64.0, 1.0)
       |           + least(round(CASE WHEN len(ws) = 0 THEN 0.0
       |               ELSE len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) * 1.0 / len(ws) END, 6) * 4.0, 1.0)
       |           + greatest(1.0 - (pr + dr) * 4.0, 0.0)) / 3.0, 6) AS quality
       |  FROM $qbase)""".stripMargin

  /** The q25 stopword-profile language-ID as `l(doc_id, lang_pred)`
    * CTEs over any `(doc_id, text)` source (same argmax tie order). */
  private def langCteOver(src: String): String =
    s""",
       |lw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws FROM $src),
       |lh AS (SELECT doc_id,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.deStopList)})) AS de,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) AS en,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.esStopList)})) AS es,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.frStopList)})) AS fr
       |  FROM lw),
       |l AS (SELECT doc_id, CASE
       |  WHEN greatest(de, en, es, fr) <= 0 THEN 'und'
       |  WHEN fr >= de AND fr >= en AND fr >= es THEN 'fr'
       |  WHEN es >= de AND es >= en THEN 'es'
       |  WHEN en >= de THEN 'en'
       |  ELSE 'de' END AS lang_pred FROM lh)""".stripMargin

  private val dupBestOracle: String =
    "WITH RECURSIVE " + corpusNearBody + jaccardPairsCtes +
    """,
      |pp AS MATERIALIZED (SELECT id1, id2 FROM jp WHERE jaccard >= 0.8)""".stripMargin +
    closureCtes +
    """,
      |g AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)""".stripMargin +
    qualityCteOver("corpus") +
    s""",
       |winners AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id,
       |           row_number() OVER (PARTITION BY g.group_id
       |                              ORDER BY q.quality DESC, c.doc_id) AS rn
       |    FROM corpus c JOIN g ON g.id = c.doc_id JOIN q ON q.doc_id = c.doc_id)
       |  WHERE rn = 1)
       |SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id FROM g)
       |UNION ALL
       |SELECT doc_id FROM winners""".stripMargin

  /** q127 oracle: the full curation-report replay — lang + quality
    * gates, >= 0.95 Jaccard closure among gate survivors (near_dup =
    * non-minimum member), containment >= 0.9 among the remaining
    * survivors (removeContained rule), first-failing-stage reason,
    * keep = no reason. */
  private val curationReportOracle: String =
    "WITH RECURSIVE " + corpusNearBody +
    langCteOver("corpus") +
    qualityCteOver("corpus") +
    """,
      |gated AS (SELECT c.doc_id, c.text FROM corpus c
      |          JOIN l ON l.doc_id = c.doc_id
      |          JOIN q ON q.doc_id = c.doc_id
      |          WHERE l.lang_pred IN ('en') AND q.quality >= 0.55)""".stripMargin +
    shingleCtesOver("gated", "gw", "gs") +
    """,
      |jp AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |         round(len(list_intersect(a.sh, b.sh)) * 1.0 /
      |               len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |       FROM gs a JOIN gs b ON a.doc_id < b.doc_id),
      |pp AS MATERIALIZED (SELECT id1, id2 FROM jp WHERE jaccard >= 0.95)""".stripMargin +
    closureCtes +
    """,
      |nl AS MATERIALIZED (SELECT id FROM (SELECT id, MIN(lbl) AS group_id
      |                       FROM reach GROUP BY id)
      |       WHERE id <> group_id),
      |surv AS (SELECT doc_id FROM gated
      |         WHERE doc_id NOT IN (SELECT id FROM nl)),
      |cp AS MATERIALIZED (SELECT * FROM (
      |    SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
      |           round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6) AS containment
      |    FROM gs a JOIN gs b ON a.doc_id <> b.doc_id
      |    WHERE a.doc_id IN (SELECT doc_id FROM surv)
      |      AND b.doc_id IN (SELECT doc_id FROM surv))
      |  WHERE containment >= 0.9),
      |cl AS (SELECT DISTINCT p.id_contained AS loser
      |       FROM cp p LEFT JOIN cp r
      |         ON r.id_contained = p.id_container
      |        AND r.id_container = p.id_contained
      |       WHERE r.id_contained IS NULL OR p.id_contained > p.id_container)
      |SELECT doc_id, reason, reason IS NULL AS keep FROM (
      |  SELECT c.doc_id,
      |    CASE WHEN l.lang_pred NOT IN ('en') THEN 'lang'
      |         WHEN q.quality < 0.55 THEN 'quality'
      |         WHEN c.doc_id IN (SELECT id FROM nl) THEN 'near_dup'
      |         WHEN c.doc_id IN (SELECT loser FROM cl) THEN 'contained'
      |    END AS reason
      |  FROM corpus c
      |  JOIN l ON l.doc_id = c.doc_id
      |  JOIN q ON q.doc_id = c.doc_id)""".stripMargin

  /** q57 oracle: transitive closure of the SAME 12-node document path
    * graph the Spark side chains, again as a DuckDB recursive CTE. All
    * 12 nodes collapse to the lowest doc_id — through the micro path
    * (q57) and through the contraction pass plus star rounds (q68). */
  private val dupChainOracle: String =
    """WITH RECURSIVE ch AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 12),
      |pp AS MATERIALIZED (SELECT id1, id2 FROM (
      |         SELECT doc_id AS id1,
      |                lead(doc_id) OVER (ORDER BY doc_id) AS id2 FROM ch)
      |       WHERE id2 IS NOT NULL)""".stripMargin +
    closureCtes +
    "\nSELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id"

  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  private val textStatsOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) END AS n_tokens,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END, 6) AS digit_ratio
       |  FROM documents
       |), st AS (
       |  SELECT *, round(CASE WHEN len(ws) = 0 THEN 0.0
       |    ELSE len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) * 1.0 / len(ws) END, 6) AS stopword_ratio
       |  FROM base
       |)
       |SELECT doc_id, n_tokens, punct_ratio, digit_ratio, stopword_ratio,
       |  round((least(n_tokens / 64.0, 1.0) + least(stopword_ratio * 4.0, 1.0)
       |         + greatest(1.0 - (punct_ratio + digit_ratio) * 4.0, 0.0)) / 3.0, 6) AS quality
       |FROM st""".stripMargin

  private val langIdOracle: String =
    s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws FROM documents),
       |h AS (SELECT doc_id,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.deStopList)})) AS de,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) AS en,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.esStopList)})) AS es,
       |  len(list_filter(ws, x -> x IN ${sqlList(TextStats.frStopList)})) AS fr
       |  FROM w)
       |SELECT doc_id, CASE
       |  WHEN greatest(de, en, es, fr) <= 0 THEN 'und'
       |  WHEN fr >= de AND fr >= en AND fr >= es THEN 'fr'
       |  WHEN es >= de AND es >= en THEN 'es'
       |  WHEN en >= de THEN 'en'
       |  ELSE 'de' END AS lang_pred
       |FROM h""".stripMargin

  private val curationOracle: String = corpusCte +
    s""",
       |dedup AS (
       |  SELECT doc_id, text,
       |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM corpus
       |),
       |base AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) END AS n_tokens,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio,
       |    round(CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END, 6) AS digit_ratio
       |  FROM dedup WHERE rn = 1
       |),
       |st AS (
       |  SELECT *,
       |    round(CASE WHEN len(ws) = 0 THEN 0.0
       |      ELSE len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) * 1.0 / len(ws) END, 6) AS sw,
       |    len(list_filter(ws, x -> x IN ${sqlList(TextStats.deStopList)})) AS de,
       |    len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) AS en,
       |    len(list_filter(ws, x -> x IN ${sqlList(TextStats.esStopList)})) AS es,
       |    len(list_filter(ws, x -> x IN ${sqlList(TextStats.frStopList)})) AS fr
       |  FROM base
       |)
       |SELECT doc_id FROM st
       |WHERE (CASE
       |    WHEN greatest(de, en, es, fr) <= 0 THEN 'und'
       |    WHEN fr >= de AND fr >= en AND fr >= es THEN 'fr'
       |    WHEN es >= de AND es >= en THEN 'es'
       |    WHEN en >= de THEN 'en'
       |    ELSE 'de' END) = 'en'
       |  AND round((least(n_tokens / 64.0, 1.0) + least(sw * 4.0, 1.0)
       |       + greatest(1.0 - (punct_ratio + digit_ratio) * 4.0, 0.0)) / 3.0, 6) >= 0.5""".stripMargin

  /** q49 Spark side: event windows [ts, ts + 10 min + value s] in epoch
    * MICROS (Long) — only `unix_micros` differs from the DuckDB oracle's
    * `epoch_us`. FLOOR before the BIGINT cast: Spark truncates
    * double→long while DuckDB rounds, so the cast input must already be
    * integral in both. */
  private val longWindowSparkSql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, event_type,
      |         unix_micros(ts) AS win_start,
      |         unix_micros(ts) + 600000000
      |           + CAST(FLOOR(value * 1e6) AS BIGINT) AS win_end
      |  FROM events)
      |SELECT a.event_type AS event_type, COUNT(*) AS n_pairs
      |FROM w a JOIN w b ON a.user_id = b.user_id
      | AND a.win_start <= b.win_end AND a.win_end >= b.win_start
      | AND a.event_id < b.event_id
      |GROUP BY a.event_type""".stripMargin

  private val longWindowOracle: String =
    """WITH w AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_us(ts) AS win_start,
      |         epoch_us(ts) + 600000000
      |           + CAST(FLOOR(value * 1e6) AS BIGINT) AS win_end
      |  FROM events)
      |SELECT a.event_type AS event_type, COUNT(*) AS n_pairs
      |FROM w a JOIN w b ON a.user_id = b.user_id
      | AND a.win_start <= b.win_end AND a.win_end >= b.win_start
      | AND a.event_id < b.event_id
      |GROUP BY a.event_type""".stripMargin

  private val annTopkOracle: String =
    """SELECT vec_id, rank FROM (
      |  SELECT vec_id, row_number() OVER (
      |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
      |       ORDER BY vec_id LIMIT 1)) DESC, vec_id) AS rank
      |  FROM embeddings) t
      |WHERE rank <= 10""".stripMargin

  /** DuckDB-equivalent SQL per query (same parquet-backed table names). */
  def oracleSql: Map[String, String] =
    (sharedSql - "q13_interval_partitioned" - "q15_interval_ailist") ++ Map(
      // same result as q10 — different execution mode / index algorithm
      "q13_interval_partitioned" -> sharedSql("q10_interval_join"),
      "q15_interval_ailist" -> sharedSql("q10_interval_join"),
      "q17_interval_lapper" -> sharedSql("q10_interval_join"),
      "q43_interval_tree" -> sharedSql("q10_interval_join"),
      "q14_interval_nearest" -> nearestOracleSql,
      "q49_interval_long" -> longWindowOracle,
      // the classic sweep as window SQL — same merge the IntervalOps API
      // computes; all aggregates cast to BIGINT to match Spark's types
      "q53_interval_merge" -> (cteAB +
        """,
          |ord AS (
          |  SELECT contig, pos_start, pos_end,
          |         MAX(pos_end) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM a),
          |flagged AS (
          |  SELECT contig, pos_start, pos_end,
          |         CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
          |              THEN 1 ELSE 0 END AS new_grp
          |  FROM ord),
          |grp AS (
          |  SELECT contig, pos_start, pos_end,
          |         SUM(new_grp) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS UNBOUNDED PRECEDING) AS gid
          |  FROM flagged),
          |merged AS (
          |  SELECT contig, MIN(pos_start) AS m_start, MAX(pos_end) AS m_end,
          |         COUNT(*) AS n_merged
          |  FROM grp GROUP BY contig, gid)
          |SELECT contig,
          |       CAST(COUNT(*) AS BIGINT) AS n_regions,
          |       CAST(SUM(m_end - m_start + 1) AS BIGINT) AS covered_bases,
          |       CAST(MAX(m_end - m_start + 1) AS BIGINT) AS max_region_len,
          |       CAST(SUM(n_merged) AS BIGINT) AS n_intervals
          |FROM merged GROUP BY contig""".stripMargin),
      // same sweep as q53's oracle, aggregated per (contig, gid) —
      // cluster ids are the per-contig prefix-sum ordinals themselves
      "q66_interval_cluster" -> (cteAB +
        """,
          |ord AS (
          |  SELECT contig, pos_start, pos_end,
          |         MAX(pos_end) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM a),
          |flagged AS (
          |  SELECT contig, pos_start, pos_end,
          |         CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
          |              THEN 1 ELSE 0 END AS new_grp
          |  FROM ord),
          |grp AS (
          |  SELECT contig, pos_start, pos_end,
          |         SUM(new_grp) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS UNBOUNDED PRECEDING) AS gid
          |  FROM flagged)
          |SELECT contig, CAST(gid AS BIGINT) AS cluster_id,
          |       CAST(COUNT(*) AS BIGINT) AS n_members,
          |       CAST(MIN(pos_start) AS BIGINT) AS cl_start,
          |       CAST(MAX(pos_end) AS BIGINT) AS cl_end
          |FROM grp GROUP BY contig, gid""".stripMargin),
      // merged runs per side (q53's sweep twice), intersection from the
      // join of the disjoint runs, union = cov(a) + cov(b) − intersection
      "q67_interval_jaccard" -> (cteAB +
        """,
          |aord AS (
          |  SELECT contig, pos_start, pos_end,
          |         MAX(pos_end) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM a),
          |agrp AS (
          |  SELECT contig, pos_start, pos_end,
          |         SUM(CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
          |                  THEN 1 ELSE 0 END) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS UNBOUNDED PRECEDING) AS gid
          |  FROM aord),
          |am AS (SELECT contig, MIN(pos_start) AS s, MAX(pos_end) AS e
          |       FROM agrp GROUP BY contig, gid),
          |bord AS (
          |  SELECT contig, pos_start, pos_end,
          |         MAX(pos_end) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |  FROM b),
          |bgrp AS (
          |  SELECT contig, pos_start, pos_end,
          |         SUM(CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
          |                  THEN 1 ELSE 0 END) OVER (PARTITION BY contig
          |           ORDER BY pos_start, pos_end
          |           ROWS UNBOUNDED PRECEDING) AS gid
          |  FROM bord),
          |bm AS (SELECT contig, MIN(pos_start) AS s, MAX(pos_end) AS e
          |       FROM bgrp GROUP BY contig, gid),
          |ca AS (SELECT contig,
          |              SUM(CAST(e AS BIGINT) - CAST(s AS BIGINT) + 1) AS cov
          |       FROM am GROUP BY contig),
          |cb AS (SELECT contig,
          |              SUM(CAST(e AS BIGINT) - CAST(s AS BIGINT) + 1) AS cov
          |       FROM bm GROUP BY contig),
          |ix AS (SELECT am.contig,
          |              SUM(CAST(LEAST(am.e, bm.e) AS BIGINT) -
          |                  CAST(GREATEST(am.s, bm.s) AS BIGINT) + 1) AS ib
          |       FROM am JOIN bm ON am.contig = bm.contig
          |         AND am.s <= bm.e AND am.e >= bm.s
          |       GROUP BY am.contig)
          |SELECT contig,
          |       CAST(COALESCE(ib, 0) AS BIGINT) AS intersection_bases,
          |       CAST(COALESCE(ca.cov, 0) + COALESCE(cb.cov, 0)
          |            - COALESCE(ib, 0) AS BIGINT) AS union_bases,
          |       ROUND(COALESCE(ib, 0) * 1.0 /
          |             (COALESCE(ca.cov, 0) + COALESCE(cb.cov, 0)
          |              - COALESCE(ib, 0)), 6) AS jaccard
          |FROM ca FULL JOIN cb USING (contig) LEFT JOIN ix USING (contig)""".stripMargin),
      // the same +1/−1 boundary sweep the operator runs, as window SQL
      "q54_coverage_hist" -> (cteAB +
        """,
          |ev AS (SELECT contig, CAST(pos_start AS BIGINT) AS pos, 1 AS delta
          |       FROM a
          |       UNION ALL
          |       SELECT contig, CAST(pos_end AS BIGINT) + 1, -1 FROM a),
          |agg AS (SELECT contig, pos, SUM(delta) AS d
          |        FROM ev GROUP BY contig, pos),
          |sweep AS (SELECT contig, pos,
          |            SUM(d) OVER (PARTITION BY contig ORDER BY pos) AS depth,
          |            LEAD(pos) OVER (PARTITION BY contig ORDER BY pos) AS next_pos
          |          FROM agg)
          |SELECT contig, CAST(depth AS BIGINT) AS depth,
          |       CAST(SUM(next_pos - pos) AS BIGINT) AS bases
          |FROM sweep WHERE next_pos IS NOT NULL AND depth > 0
          |GROUP BY contig, depth""".stripMargin),
      // merged-b chain (identical to the operator's merge) + per-a-row
      // gap extraction via LAG/LEAD — the subtract sweep as window SQL
      "q55_interval_subtract" -> (cteAB +
        """,
          |ordb AS (SELECT contig, pos_start, pos_end,
          |           MAX(pos_end) OVER (PARTITION BY contig
          |             ORDER BY pos_start, pos_end
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          |         FROM b),
          |flb AS (SELECT contig, pos_start, pos_end,
          |          CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
          |               THEN 1 ELSE 0 END AS ng
          |        FROM ordb),
          |grb AS (SELECT contig, pos_start, pos_end,
          |          SUM(ng) OVER (PARTITION BY contig
          |            ORDER BY pos_start, pos_end
          |            ROWS UNBOUNDED PRECEDING) AS gid
          |        FROM flb),
          |mb AS (SELECT contig, CAST(MIN(pos_start) AS BIGINT) AS m_start,
          |              CAST(MAX(pos_end) AS BIGINT) AS m_end
          |       FROM grb GROUP BY contig, gid),
          |j AS (SELECT a.a_id, a.contig, CAST(a.pos_start AS BIGINT) AS a_s,
          |             CAST(a.pos_end AS BIGINT) AS a_e, m.m_start, m.m_end
          |      FROM a LEFT JOIN mb m ON a.contig = m.contig
          |        AND m.m_start <= a.pos_end AND m.m_end >= a.pos_start),
          |fr AS (SELECT j.*,
          |         LAG(m_end) OVER (PARTITION BY a_id ORDER BY m_start) AS prev_end,
          |         LEAD(m_start) OVER (PARTITION BY a_id ORDER BY m_start) AS next_start
          |       FROM j),
          |frags AS (
          |  SELECT contig, COALESCE(prev_end + 1, a_s) AS fs, m_start - 1 AS fe
          |  FROM fr WHERE m_start IS NOT NULL
          |  UNION ALL
          |  SELECT contig, m_end + 1, a_e
          |  FROM fr WHERE m_start IS NOT NULL AND next_start IS NULL
          |  UNION ALL
          |  SELECT contig, a_s, a_e FROM fr WHERE m_start IS NULL)
          |SELECT contig, CAST(COUNT(*) AS BIGINT) AS n_frags,
          |       CAST(SUM(fe - fs + 1) AS BIGINT) AS uncovered_bases
          |FROM frags WHERE fs <= fe GROUP BY contig""".stripMargin),
      "q50_asof" ->
        """WITH c AS (SELECT user_id, epoch_us(ts) AS click_t,
          |                  event_id AS click_id
          |           FROM events WHERE event_type = 'click'),
          |     p AS (SELECT user_id, epoch_us(ts) AS purchase_t,
          |                  event_id AS purchase_id
          |           FROM events WHERE event_type = 'purchase')
          |SELECT p.purchase_id, p.purchase_t, c.click_id, c.click_t
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND p.purchase_t >= c.click_t""".stripMargin,
      "q20_dedup_exact" -> exactDupOracle,
      "q27_fingerprint" -> exactDupOracle,
      "q21_dedup_minhash" -> exactDupOracle,
      "q137_dedup_minhash_capped" -> exactDupOracle,
      "q22_dedup_simhash" -> exactDupOracle,
      "q23_dedup_jaccard" -> jaccardOracle,
      "q56_dedup_groups" -> dupGroupsOracle,
      "q57_dedup_chain" -> dupChainOracle,
      "q68_dedup_chain_loop" -> dupChainOracle,
      // closed-form: component of event e is exactly {64e..64e+63}, so
      // group_id = 64e, n = 64, sum = 4096e + (0+1+...+63) = 4096e+2016,
      // max = 64e+63 — no graph traversal needed oracle-side
      "q69_dedup_groups_large" ->
        """SELECT CAST(event_id * 64 AS BIGINT) AS group_id,
          |       CAST(64 AS BIGINT) AS n_members,
          |       CAST(event_id * 4096 + 2016 AS BIGINT) AS sum_id,
          |       CAST(event_id * 64 + 63 AS BIGINT) AS max_id
          |FROM events WHERE event_id < 20000""".stripMargin,
      // the component of event e is {mix(64e+j) : j in 0..63} under the
      // scramble bijection — enumerated per event with generate_series
      // instead of any graph traversal
      "q70_dedup_groups_star" ->
        """SELECT CAST(min(m) AS BIGINT) AS group_id,
          |       CAST(count(*) AS BIGINT) AS n_members,
          |       CAST(sum(m) AS BIGINT) AS sum_id,
          |       CAST(max(m) AS BIGINT) AS max_id
          |FROM (
          |  SELECT event_id AS eid,
          |         (CAST(event_id * 64 + j AS BIGINT) * 7919 % 32768)
          |         * 65536 + CAST(event_id * 64 + j AS BIGINT) AS m
          |  FROM events, generate_series(0, 63) t(j)
          |  WHERE event_id < 500
          |) GROUP BY eid""".stripMargin,
      // q77: same closed-form block arithmetic, all sf0.01 events
      "q77_dedup_star_scale" ->
        """SELECT CAST(min(m) AS BIGINT) AS group_id,
          |       CAST(count(*) AS BIGINT) AS n_members,
          |       CAST(sum(m) AS BIGINT) AS sum_id,
          |       CAST(max(m) AS BIGINT) AS max_id
          |FROM (
          |  SELECT event_id AS eid,
          |         (CAST(event_id * 64 + j AS BIGINT) * 7919 % 32768)
          |         * 65536 + CAST(event_id * 64 + j AS BIGINT) AS m
          |  FROM events, generate_series(0, 63) t(j)
          |  WHERE event_id < 10000
          |) GROUP BY eid""".stripMargin,
      // q78: DuckDB reads the same parquet ts natively (naive micros ==
      // the NTZ wall-clock micros Spark joins on)
      "q78_interval_ntz" ->
        """SELECT a.user_id AS u, CAST(count(*) AS BIGINT) AS n_overlaps
          |FROM (SELECT user_id, ts AS s, ts + INTERVAL 6 HOUR AS e
          |      FROM events WHERE event_type = 'click') a
          |JOIN (SELECT user_id, ts AS s, ts + INTERVAL 6 HOUR AS e
          |      FROM events WHERE event_type = 'purchase') b
          |  ON a.user_id = b.user_id AND a.s <= b.e AND a.e >= b.s
          |GROUP BY 1""".stripMargin,
      // tumbling-window streaming aggregation == plain hour-bucket GROUP
      // BY over the bounded replay (complete output mode)
      "q71_streaming_window" ->
        """SELECT date_trunc('hour', ts) AS h, event_type,
          |       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
          |FROM events
          |GROUP BY 1, 2""".stripMargin,
      // streaming dropDuplicates on the key alone == DISTINCT keys
      "q72_streaming_dedup" ->
        "SELECT DISTINCT user_id FROM events",
      // stream-stream inner range join == the batch range join over the
      // bounded replay (inner emission is batching-invariant)
      "q79_streaming_join" ->
        """SELECT a.user_id AS u, a.event_id AS click_id,
          |       b.event_id AS purchase_id
          |FROM (SELECT user_id, ts, event_id FROM events
          |      WHERE event_type = 'click') a
          |JOIN (SELECT user_id, ts, event_id FROM events
          |      WHERE event_type = 'purchase') b
          |  ON a.user_id = b.user_id
          | AND a.ts >= b.ts - INTERVAL 4 HOUR
          | AND a.ts <= b.ts + INTERVAL 4 HOUR""".stripMargin,
      // gap-based sessionization in plain SQL: a session break is a
      // >= 30 min gap to the previous event (matching session_window's
      // half-open [t, t+gap) merge rule); session end = last event + gap
      "q80_streaming_sessions" ->
        """WITH m AS (
          |  SELECT user_id, ts, value,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          |), s AS (
          |  SELECT user_id, ts, value,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM m
          |)
          |SELECT user_id, min(ts) AS session_start,
          |       max(ts) + INTERVAL 30 MINUTE AS session_end,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(value), 4) AS sum_value
          |FROM s GROUP BY user_id, sid""".stripMargin,
      // the bounded replay through the stream-static join + complete-mode
      // agg equals the plain batch join+group
      "q86_streaming_enrich" ->
        """SELECT c.c_nationkey, e.event_type,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(e.value), 4) AS sum_value
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY c.c_nationkey, e.event_type""".stripMargin,
      // one emission per user whose lifetime count reaches the milestone
      "q92_streaming_milestones" ->
        """SELECT user_id, CAST(50 AS BIGINT) AS milestone
          |FROM events GROUP BY user_id HAVING count(*) >= 50""".stripMargin,
      // timeout fires when the final watermark (global max ts − 30 min)
      // passes last_seen (ms-floored) + 60 min — the strict < below
      "q107_streaming_inactive" ->
        """WITH g AS (SELECT max(ts) AS gmax FROM events)
          |SELECT user_id, max(ts) AS last_seen,
          |       CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id
          |HAVING date_trunc('millisecond', max(ts)) + INTERVAL 60 MINUTE
          |     < (SELECT gmax FROM g) - INTERVAL 30 MINUTE""".stripMargin,
      // the upsert store's associative merges must land on the plain
      // batch aggregation, however the trigger batched the files
      "q109_streaming_upsert" ->
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |       max(ts) AS last_ts, round(sum(value), 4) AS sum_value
          |FROM events GROUP BY user_id""".stripMargin,
      // q81: same injection, same dialect-portable regexes (RE2 side)
      "q81_pii_redaction" ->
        """WITH t AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 3 = 0 THEN text || ' contact user'
          |           || doc_id || '@mail.example.com from 10.0.'
          |           || (doc_id % 256) || '.17 card 4111111122223333'
          |         ELSE text END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          |    '<EMAIL>', 'g'),
          |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
          |    '\d{8,}', '<NUM>', 'g') AS clean,
          |  CAST(len(regexp_extract_all(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          |    AS n_emails,
          |  CAST(len(regexp_extract_all(text,
          |    '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
          |  CAST(len(regexp_extract_all(text, '\d{8,}')) AS BIGINT)
          |    AS n_nums
          |FROM t""".stripMargin,
      // q82: same \s-split twin as every tokenization oracle
      "q82_vocab_stats" ->
        """WITH w AS (SELECT doc_id,
          |  unnest(list_filter(regexp_split_to_array(lower(trim(text)),
          |    '\s+'), x -> x <> '')) AS term
          |  FROM documents)
          |SELECT term, CAST(count(*) AS BIGINT) AS tf,
          |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          |FROM w GROUP BY term""".stripMargin,
      // brute-force per-query cosine ranking (q30's oracle, batched):
      // rank-only output keeps the compare integral
      "q73_knn_join" ->
        """SELECT query_id, vec_id, rank FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
          |         row_number() OVER (PARTITION BY q.vec_id
          |           ORDER BY list_cosine_similarity(
          |             CAST(c.embedding AS DOUBLE[]),
          |             CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
          |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
          |  WHERE q.vec_id < 20) t
          |WHERE rank <= 5""".stripMargin,
      // the span merge as gaps-and-islands SQL over gram STRINGS (the
      // engine groups 64-bit gram hashes; equal strings hash equal, and
      // a collision between distinct grams is negligible — the q27
      // fingerprint discipline)
      "q74_repeated_spans" -> ("WITH " + corpusNearBody +
        """,
          |toks AS (
          |  SELECT doc_id, list_filter(
          |    regexp_split_to_array(lower(trim(text)), '\s+'),
          |    x -> x <> '') AS t
          |  FROM corpus WHERE text IS NOT NULL),
          |positions AS (
          |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS j
          |  FROM toks WHERE len(t) >= 8),
          |grams AS (
          |  SELECT doc_id, j - 1 AS pos, array_to_string(t[j:j+7], ' ') AS g
          |  FROM positions),
          |dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
          |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
          |marked AS (
          |  SELECT doc_id, pos,
          |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          |  FROM hits)
          |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
          |       COUNT(*) AS n_grams
          |FROM marked GROUP BY doc_id, grp""".stripMargin),
      // all-but-one span cutting: non-owner hit positions merge into
      // ranges, surviving tokens re-join (normalized form); untouched
      // docs pass through verbatim. DuckDB zips parallel unnests, so
      // (tok, position) pairs come from two unnests in one select.
      "q75_span_removal" -> ("WITH " + corpusNearBody +
        """,
          |toks AS (
          |  SELECT doc_id, list_filter(
          |    regexp_split_to_array(lower(trim(text)), '\s+'),
          |    x -> x <> '') AS t
          |  FROM corpus WHERE text IS NOT NULL),
          |positions AS (
          |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS j
          |  FROM toks WHERE len(t) >= 8),
          |grams AS (
          |  SELECT doc_id, j - 1 AS pos, array_to_string(t[j:j+7], ' ') AS g
          |  FROM positions),
          |own AS (
          |  SELECT g, min(doc_id) AS d0 FROM grams
          |  GROUP BY g HAVING min(doc_id) <> max(doc_id)),
          |cuthits AS (
          |  SELECT gr.doc_id, gr.pos FROM grams gr JOIN own o ON gr.g = o.g
          |  WHERE gr.doc_id <> o.d0),
          |marked AS (
          |  SELECT doc_id, pos,
          |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          |  FROM cuthits),
          |ranges AS (
          |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
          |  FROM marked GROUP BY doc_id, grp),
          |tokpos AS (
          |  SELECT doc_id, unnest(t) AS tok,
          |         unnest(generate_series(0, len(t) - 1)) AS p
          |  FROM toks),
          |kept AS (
          |  SELECT k.doc_id, k.tok, k.p FROM tokpos k
          |  WHERE NOT EXISTS (SELECT 1 FROM ranges r
          |    WHERE r.doc_id = k.doc_id AND k.p BETWEEN r.s AND r.e)),
          |rebuilt AS (
          |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text
          |  FROM kept GROUP BY doc_id)
          |SELECT c.doc_id,
          |       CASE WHEN c.doc_id IN (SELECT doc_id FROM ranges)
          |            THEN coalesce(rb.text, '') ELSE c.text END AS text
          |FROM corpus c LEFT JOIN rebuilt rb USING (doc_id)""".stripMargin),
      // 64-token chunks starting every 48 tokens; chunk text compared
      // string-exact, chunk_id = start / stride. A tail start whose
      // previous chunk already reached the end (s - 48 + 64 >= len) is
      // skipped — its chunk would be a strict subset of the previous.
      "q76_chunking" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(
          |    regexp_split_to_array(lower(trim(text)), '\s+'),
          |    x -> x <> '') AS t
          |  FROM documents WHERE text IS NOT NULL),
          |starts AS (
          |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 48)) AS s
          |  FROM toks WHERE len(t) > 0)
          |SELECT doc_id, CAST(s / 48 AS BIGINT) AS chunk_id,
          |       array_to_string(t[s+1:s+64], ' ') AS chunk_text,
          |       CAST(least(64, len(t) - s) AS BIGINT) AS n_tokens
          |FROM starts
          |WHERE s = 0 OR s + 16 < len(t)""".stripMargin,
      "q58_dedup_canonical" -> dupCanonicalOracle,
      "q24_text_stats" -> textStatsOracle,
      "q25_langid" -> langIdOracle,
      "q26_curation" -> curationOracle,
      "q30_ann_topk" -> annTopkOracle,
      // the oracle is ALL-PAIRS cosine over the same constructed corpus —
      // a green row proves LSH recall (every >=0.8 pair found), not just
      // precision
      "q48_dedup_embedding" ->
        """WITH corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000 AS vec_id, embedding
          |  FROM embeddings WHERE vec_id % 5 = 0
          |  UNION ALL
          |  SELECT vec_id + 2000000 AS vec_id,
          |         list_concat(embedding[1:63],
          |                     [CAST(embedding[64] * 0.5 AS FLOAT)]) AS embedding
          |  FROM embeddings WHERE vec_id % 4 = 0
          |)
          |SELECT id1, id2, cosine FROM (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2,
          |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |               CAST(b.embedding AS DOUBLE[])), 6) AS cosine
          |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id) t
          |WHERE cosine >= 0.9""".stripMargin,
      "q46_json" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
          |       COUNT(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
          |            AS BIGINT) AS sum_k
          |FROM events
          |GROUP BY 1""".stripMargin,
      // the recall_ok flag is computed in Spark as |ivf∩exact| >= 9; the
      // exact side is q30's oracle-verified ranks, so a red row here means
      // the bucketed layout lost recall
      "q31_ann_ivf" ->
        """SELECT 10 AS k, 64 AS n_cells, 32 AS n_probed,
          |       CAST(true AS BOOLEAN) AS recall_ok""".stripMargin,
      "q40_multimodal" ->
        """SELECT doc_id,
          |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          |  CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS INTEGER) AS n_frames,
          |  CAST(ceil(ceil(octet_length(CAST(text AS BLOB)) / 256.0) / 2.0) AS INTEGER) AS n_sampled
          |FROM documents""".stripMargin,
      // q41 is verifiable by construction: the PNG each executor encodes +
      // decodes is fully determined by the doc id (solid color, lossless
      // codec), so the oracle recomputes every column from id arithmetic
      "q41_media_decode" ->
        """SELECT doc_id,
          |  16 + doc_id % 32 AS width,
          |  8 + doc_id % 16 AS height,
          |  3 AS n_channels,
          |  round(((doc_id * 7) % 256) / 255.0, 4) AS mean_r,
          |  round(((doc_id * 13) % 256) / 255.0, 4) AS mean_g,
          |  round(((doc_id * 29) % 256) / 255.0, 4) AS mean_b
          |FROM documents""".stripMargin,
      // all-pairs CROSS Jaccard between the train and test corpora — a
      // green row proves the cross-corpus LSH found every contaminated
      // pair (recall) and nothing else (precision)
      "q59_contamination" ->
        """WITH train AS (SELECT doc_id, text FROM documents),
          |test AS (SELECT doc_id + 2000000 AS doc_id,
          |                text || ' graft dup marker' AS text
          |         FROM documents WHERE doc_id % 7 = 0),
          |tw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM train),
          |ts AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 3
          |             THEN list_distinct(list_transform(range(1, len(ws) - 1),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM tw),
          |ew AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM test),
          |es AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 3
          |             THEN list_distinct(list_transform(range(1, len(ws) - 1),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM ew)
          |SELECT train_id, test_id, jaccard FROM (
          |  SELECT a.doc_id AS train_id, b.doc_id AS test_id,
          |         round(len(list_intersect(a.sh, b.sh)) * 1.0 /
          |               len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
          |  FROM ts a, es b) t
          |WHERE jaccard >= 0.8""".stripMargin,
      // the md5 ordering key is engine-portable, so the oracle recomputes
      // the exact same deterministic per-stratum top-5
      "q60_sample_stratified" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang,
          |         row_number() OVER (PARTITION BY lang
          |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents) t
          |WHERE rn <= 5""".stripMargin,
      // thresholds are round(rate * 2^32) as 8-hex-char strings
      // (0.25/0.5/0.0/0.75); '' keeps nothing, lexicographic hex compare
      // == numeric compare at fixed width
      "q61_sample_mixture" ->
        """SELECT doc_id, source FROM documents
          |WHERE substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
          |      CASE source WHEN 'src0' THEN '40000000'
          |                  WHEN 'src1' THEN '80000000'
          |                  WHEN 'src2' THEN ''
          |                  ELSE 'c0000000' END""".stripMargin,
      "q62_hash_split" ->
        """SELECT doc_id,
          |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd'
          |         THEN 'train'
          |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
          |         THEN 'val'
          |       ELSE 'test' END AS split
          |FROM documents""".stripMargin,
      // distinct 5-grams of each test doc found anywhere in train —
      // counting distinct gram STRINGS equals the Spark side's distinct
      // 64-bit gram hashes (collisions negligible, as in q23)
      "q63_ngram_hits" ->
        """WITH train AS (SELECT doc_id, text FROM documents),
          |test AS (SELECT doc_id + 2000000 AS doc_id,
          |                text || ' graft dup marker' AS text
          |         FROM documents WHERE doc_id % 7 = 0),
          |tw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM train),
          |ts AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 5
          |             THEN list_distinct(list_transform(range(1, len(ws) - 3),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM tw),
          |ew AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM test),
          |es AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 5
          |             THEN list_distinct(list_transform(range(1, len(ws) - 3),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM ew),
          |tg AS (SELECT DISTINCT unnest(sh) AS g FROM ts),
          |eg AS (SELECT doc_id, unnest(sh) AS g FROM es)
          |SELECT e.doc_id AS test_id, count(*) AS n_hits
          |FROM eg e JOIN tg t ON e.g = t.g
          |GROUP BY e.doc_id
          |HAVING count(*) >= 1""".stripMargin,
      // exact semantics of the bloom-prefiltered pipeline: grouped by the
      // TRAIN side (bloom adds no error after the verify join)
      "q83_bloom_decontamination" ->
        """WITH train AS (SELECT doc_id, text FROM documents),
          |test AS (SELECT doc_id + 2000000 AS doc_id,
          |                text || ' graft dup marker' AS text
          |         FROM documents WHERE doc_id % 7 = 0),
          |tw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM train),
          |ts AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 5
          |             THEN list_distinct(list_transform(range(1, len(ws) - 3),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM tw),
          |ew AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM test),
          |es AS (SELECT doc_id,
          |        CASE WHEN len(ws) >= 5
          |             THEN list_distinct(list_transform(range(1, len(ws) - 3),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM ew),
          |tg AS (SELECT doc_id, unnest(sh) AS g FROM ts),
          |eg AS (SELECT DISTINCT unnest(sh) AS g FROM es)
          |SELECT t.doc_id AS train_id, count(*) AS n_hits
          |FROM tg t JOIN eg e ON t.g = e.g
          |GROUP BY t.doc_id
          |HAVING count(*) >= 1""".stripMargin,
      // every dot is an exact integer (round-half-away-from-zero
      // quantization at 1e4, double-precision multiply before round on
      // both engines), so argmax + lowest-id tie-break reproduce exactly
      "q84_cluster_assign" ->
        """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
          |           FROM embeddings WHERE vec_id < 8),
          |d AS (SELECT e.vec_id, c.cid,
          |        CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
          |          i -> CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |             * CAST(round(CAST(c.cvec[i] AS DOUBLE) * 10000) AS BIGINT)))
          |          AS BIGINT) AS dot_q
          |      FROM embeddings e, c)
          |SELECT vec_id, cid AS cluster_id, dot_q FROM d
          |QUALIFY row_number() OVER (PARTITION BY vec_id
          |                           ORDER BY dot_q DESC, cid) = 1""".stripMargin,
      // identical Okapi BM25 arithmetic, same operator associativity and
      // double-typed constants (1.2 cast to DOUBLE — DuckDB decimal
      // literals would otherwise compute in DECIMAL) so both engines run
      // the same IEEE operations before the round(4)
      "q85_bm25" ->
        """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
          |t AS (SELECT doc_id, len(ws) AS dl,
          |        len(list_filter(ws, x -> x = 'spark')) AS tf0,
          |        len(list_filter(ws, x -> x = 'merge')) AS tf1,
          |        len(list_filter(ws, x -> x = 'vector')) AS tf2
          |      FROM w),
          |g AS (SELECT count(*) AS n, avg(dl) AS avgdl,
          |        sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
          |        sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
          |        sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          |      FROM t)
          |SELECT doc_id, round(
          |    (CASE WHEN tf0 > 0 THEN ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5)/CAST(df0 + 0.5 AS DOUBLE)) * tf0 * (CAST(1.2 AS DOUBLE) + 1.0) / (tf0 + CAST(1.2 AS DOUBLE) * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
          |  + (CASE WHEN tf1 > 0 THEN ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5)/CAST(df1 + 0.5 AS DOUBLE)) * tf1 * (CAST(1.2 AS DOUBLE) + 1.0) / (tf1 + CAST(1.2 AS DOUBLE) * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END)
          |  + (CASE WHEN tf2 > 0 THEN ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5)/CAST(df2 + 0.5 AS DOUBLE)) * tf2 * (CAST(1.2 AS DOUBLE) + 1.0) / (tf2 + CAST(1.2 AS DOUBLE) * (1.0 - 0.75 + 0.75 * dl / avgdl)) ELSE 0.0 END), 4) AS score
          |FROM t, g
          |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0""".stripMargin,
      // fingerprint-absent ≡ text-absent under collision-free xxhash64
      // (the q27 posture); corpus texts are non-null so NOT IN is safe
      "q87_incremental_dedup" ->
        """SELECT doc_id FROM documents
          |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 3 = 0)""".stripMargin,
      // same quality formula as the q24 oracle, ranked per source
      "q88_quality_topk" ->
        s"""WITH base AS (
          |  SELECT doc_id, source,
          |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws,
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) END AS n_tokens,
          |    round(CASE WHEN length(text) = 0 THEN 0.0
          |      ELSE (length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio,
          |    round(CASE WHEN length(text) = 0 THEN 0.0
          |      ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text) END, 6) AS digit_ratio
          |  FROM documents
          |), st AS (
          |  SELECT *, round(CASE WHEN len(ws) = 0 THEN 0.0
          |    ELSE len(list_filter(ws, x -> x IN ${sqlList(TextStats.enStopList)})) * 1.0 / len(ws) END, 6) AS stopword_ratio
          |  FROM base
          |), q AS (
          |  SELECT doc_id, source,
          |    round((least(n_tokens / 64.0, 1.0) + least(stopword_ratio * 4.0, 1.0)
          |           + greatest(1.0 - (punct_ratio + digit_ratio) * 4.0, 0.0)) / 3.0, 6) AS quality
          |  FROM st
          |)
          |SELECT doc_id, source, quality,
          |       CAST(row_number() OVER (PARTITION BY source
          |              ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
          |FROM q
          |QUALIFY rk <= 10""".stripMargin,
      // identical md5-ordered running sum; strict budget (first
      // overshooting doc and everything after it in hash order cut)
      "q89_budget_sample" ->
        """SELECT doc_id, source, n_chars, cum_before FROM (
          |  SELECT doc_id, source, n_chars,
          |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum_before
          |  FROM documents) t
          |WHERE cum_before + n_chars <= 4000""".stripMargin,
      // percentile-disc off the histogram: smallest len whose cumulative
      // count reaches ceil(total*pct/100) — integer-exact on both engines
      "q90_length_percentiles" ->
        """WITH h AS (SELECT source, CAST(n_chars AS BIGINT) AS len,
          |                  count(*) AS cnt
          |           FROM documents GROUP BY 1, 2),
          |c AS (SELECT source, len, cnt,
          |        sum(cnt) OVER (PARTITION BY source ORDER BY len
          |          ROWS UNBOUNDED PRECEDING) AS cum,
          |        sum(cnt) OVER (PARTITION BY source) AS total
          |      FROM h),
          |e AS (SELECT c.*, t.pct FROM c, (VALUES (50), (95), (99)) t(pct)),
          |r AS (SELECT *, CAST(floor((total * pct + 99) / 100.0) AS BIGINT) AS rnk
          |      FROM e)
          |SELECT source, CAST(pct AS BIGINT) AS pct, len AS value
          |FROM r WHERE cum >= rnk AND cum - cnt < rnk""".stripMargin,
      // the ORC copy carries the same rows, so the round-trip agg equals
      // the parquet agg
      "q91_orc_roundtrip" ->
        """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY source""".stripMargin,
      // the day directory holds exactly the rows whose ts falls on that
      // date (to_date under the pinned UTC session = DuckDB CAST AS DATE)
      "q95_partitioned_sink" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(value), 4) AS sum_value
          |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
          |GROUP BY event_type""".stripMargin,
      // unbounded levenshtein + filter ≡ the threshold form's survivors
      "q94_edit_distance" ->
        """WITH mut AS (SELECT doc_id + 5000000 AS doc_id,
          |       regexp_replace(text, '^(\S+) ', 'graftmut ') AS text
          |     FROM documents WHERE doc_id % 11 = 0),
          |corpus AS (SELECT doc_id, text FROM documents
          |           UNION ALL SELECT doc_id, text FROM mut),
          |pairs AS (
          |  SELECT doc_id AS left_id, doc_id + 5000000 AS right_id
          |  FROM documents WHERE doc_id % 11 = 0
          |  UNION ALL
          |  SELECT doc_id AS left_id, doc_id + 1 AS right_id
          |  FROM documents WHERE doc_id % 17 = 0)
          |SELECT p.left_id, p.right_id,
          |       CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist
          |FROM pairs p
          |JOIN corpus l ON p.left_id = l.doc_id
          |JOIN corpus r ON p.right_id = r.doc_id
          |WHERE levenshtein(l.text, r.text) <= 10""".stripMargin,
      // identical quantization (double multiply, round half away from
      // zero) then exact integer component sums; dim is 0-based like
      // Spark's posexplode
      "q93_vecsum_agg" ->
        """WITH q AS (SELECT label, i,
          |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qv
          |  FROM embeddings, generate_series(1, 64) t(i)),
          |s AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim,
          |        CAST(SUM(qv) AS BIGINT) AS sum_q
          |      FROM q GROUP BY 1, 2),
          |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
          |SELECT s.label, s.dim, s.sum_q, n.n_vecs
          |FROM s JOIN n USING (label)""".stripMargin,
      "q64_seq_packing" ->
        """SELECT doc_id, bucket,
          |  CAST(floor(cum_before / 4096.0) AS BIGINT) AS pack_id
          |FROM (
          |  SELECT doc_id,
          |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
          |         COALESCE(SUM(n_chars) OVER (
          |           PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS cum_before
          |  FROM documents) t""".stripMargin,
      // duplicate-bigram fraction; the synthetic degenerate loops are
      // rebuilt identically (first 3 lower-cased words repeated 10x)
      "q65_repetition" ->
        """WITH lp AS (
          |  SELECT doc_id + 3000000 AS doc_id,
          |    repeat(array_to_string(
          |      (list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''))[1:3], ' ')
          |      || ' ', 9) ||
          |    array_to_string(
          |      (list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''))[1:3], ' ')
          |      AS text
          |  FROM documents WHERE doc_id % 3 = 0),
          |corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id, text FROM lp),
          |w AS (SELECT doc_id,
          |             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
          |      FROM corpus)
          |SELECT doc_id, round((total - dist) * 1.0 / total, 6) AS rep_ratio
          |FROM (
          |  SELECT doc_id,
          |    CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 1 END AS total,
          |    CASE WHEN len(ws) >= 2
          |         THEN len(list_distinct(list_transform(range(1, len(ws)),
          |                i -> ws[i] || ' ' || ws[i+1])))
          |         ELSE 1 END AS dist
          |  FROM w) t""".stripMargin,
      // SemDeDup replay: same corpus construction as the Spark side
      // (near copies bit-exact via exponent decrement), assignment via
      // the identical integer quantized-dot argmax as q84, prune via
      // round-6 cosine against lower-id cluster-mates
      "q96_semantic_dedup" ->
        """WITH corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 2000000 AS vec_id,
          |         list_concat(embedding[1:63],
          |                     [CAST(embedding[64] * 0.5 AS FLOAT)]) AS embedding
          |  FROM embeddings WHERE vec_id % 4 = 0
          |),
          |c AS (SELECT vec_id AS cid, embedding AS cvec
          |      FROM embeddings WHERE vec_id < 8),
          |d AS (SELECT p.vec_id, c.cid,
          |        CAST(list_sum(list_transform(generate_series(1, len(p.embedding)),
          |          i -> CAST(round(CAST(p.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |             * CAST(round(CAST(c.cvec[i] AS DOUBLE) * 10000) AS BIGINT)))
          |          AS BIGINT) AS dot_q
          |      FROM corpus p, c),
          |a AS (SELECT vec_id, cid AS cluster_id FROM d
          |      QUALIFY row_number() OVER (PARTITION BY vec_id
          |                                 ORDER BY dot_q DESC, cid) = 1),
          |pruned AS (
          |  SELECT DISTINCT y.vec_id
          |  FROM a x JOIN a y ON x.cluster_id = y.cluster_id
          |                   AND x.vec_id < y.vec_id
          |  JOIN corpus cx ON cx.vec_id = x.vec_id
          |  JOIN corpus cy ON cy.vec_id = y.vec_id
          |  WHERE round(list_cosine_similarity(CAST(cx.embedding AS DOUBLE[]),
          |              CAST(cy.embedding AS DOUBLE[])), 6) >= 0.92)
          |SELECT vec_id, cluster_id FROM a
          |WHERE vec_id NOT IN (SELECT vec_id FROM pruned)""".stripMargin,
      "q97_unigram_logprob" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
          |                x -> x <> '')) AS term
          |  FROM documents),
          |cnts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
          |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnts)
          |SELECT doc_id, round(avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS logprob
          |FROM toks JOIN cnts USING (term), tot
          |GROUP BY doc_id""".stripMargin,
      "q98_bpe_pairs" ->
        """WITH t AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
          |                x -> x <> '')) AS w
          |  FROM documents),
          |f AS (SELECT w, count(*) AS wc FROM t
          |      WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
          |      GROUP BY w),
          |p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
          |               i -> substr(w, i, 2))) AS pair, wc
          |      FROM f),
          |cagg AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
          |         FROM p GROUP BY pair)
          |SELECT pair, cnt, rk FROM (
          |  SELECT pair, cnt,
          |         row_number() OVER (ORDER BY cnt DESC, pair) AS rk
          |  FROM cagg) z
          |WHERE rk <= 20""".stripMargin,
      // the sketch gate: the oracle pins within_5pct literally TRUE, so
      // an HLL++ estimate drifting past 5% of exact breaks the hash
      "q99_approx_distinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS exact_cnt,
          |       TRUE AS within_5pct
          |FROM events GROUP BY event_type""".stripMargin,
      // quantile_cont = Spark's interpolated `percentile` (both R-7);
      // a sketch median drifting past the 2% gate breaks the hash
      "q110_approx_percentile" ->
        """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS exact_p50,
          |       TRUE AS within_2pct
          |FROM events GROUP BY event_type""".stripMargin,
      // conditional aggregation ≡ the explicit-value pivot; DuckDB dow
      // is 0=Sunday, matching the Spark side's dayofweek(ts) − 1
      "q111_pivot" ->
        """SELECT event_type,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 0) AS BIGINT) AS d0,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 1) AS BIGINT) AS d1,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 2) AS BIGINT) AS d2,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 3) AS BIGINT) AS d3,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 4) AS BIGINT) AS d4,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 5) AS BIGINT) AS d5,
          |  CAST(count(*) FILTER (WHERE extract(dow FROM ts) = 6) AS BIGINT) AS d6
          |FROM events GROUP BY event_type""".stripMargin,
      // letter-disjoint merges never interact/overlap, so the greedy
      // BPE loop's token count = chars − Σ non-overlapping pair
      // occurrences; '|' seals word seams (whitespace is in no pair)
      "q112_bpe_tokens" ->
        """WITH w AS (SELECT doc_id,
          |  regexp_replace(lower(text), '\s+', '|', 'g') AS t
          |  FROM documents)
          |SELECT doc_id, CAST(
          |  length(replace(t, '|', ''))
          |  - (length(t) - length(replace(t, 'th', ''))) / 2
          |  - (length(t) - length(replace(t, 'er', ''))) / 2
          |  - (length(t) - length(replace(t, 'in', ''))) / 2
          |  AS BIGINT) AS n_tokens
          |FROM w""".stripMargin,
      // NOT EXISTS mirrors the anti-join's null-key semantics
      "q113_quality_gates" ->
        """WITH a AS (SELECT
          |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
          |    CAST(sum(CASE WHEN l_quantity < 0 OR l_quantity > 60 THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
          |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.11 THEN 1 ELSE 0 END) AS BIGINT) AS disc_out_of_range
          |  FROM lineitem),
          |o AS (SELECT CAST(count(*) AS BIGINT) AS orphan_lineitems
          |      FROM lineitem l
          |      WHERE NOT EXISTS (SELECT 1 FROM orders
          |                        WHERE o_orderkey = l.l_orderkey))
          |SELECT 'null_orderkey' AS check_name, null_orderkey AS violations,
          |       null_orderkey = 0 AS pass FROM a
          |UNION ALL SELECT 'qty_out_of_range', qty_out_of_range,
          |       qty_out_of_range = 0 FROM a
          |UNION ALL SELECT 'disc_out_of_range', disc_out_of_range,
          |       disc_out_of_range = 0 FROM a
          |UNION ALL SELECT 'orphan_lineitems', orphan_lineitems,
          |       orphan_lineitems = 0 FROM o""".stripMargin,
      // DSIR replay: identical add-one-smoothed log-ratio arithmetic,
      // rank on the ROUNDED score in both engines
      "q119_importance" ->
        """WITH toks AS (
          |  SELECT doc_id, source IN ('src1', 'src2', 'src3') AS is_t,
          |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS term
          |  FROM documents),
          |cnts AS (SELECT term, count(*) AS c_all,
          |                sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
          |         FROM toks GROUP BY term),
          |tot AS (SELECT CAST(sum(c_all) AS DOUBLE) AS t_all,
          |               CAST(sum(c_t) AS DOUBLE) AS t_t,
          |               CAST(count(*) AS DOUBLE) AS v FROM cnts),
          |sc AS (SELECT doc_id,
          |         round(avg(ln(CAST(c_t + 1 AS DOUBLE) / (t_t + v))
          |                 - ln(CAST(c_all + 1 AS DOUBLE) / (t_all + v))), 6) AS importance
          |       FROM toks JOIN cnts USING (term), tot GROUP BY doc_id)
          |SELECT doc_id, importance,
          |       CAST(row_number() OVER (ORDER BY importance DESC, doc_id) AS BIGINT) AS rk
          |FROM sc
          |QUALIFY rk <= 50""".stripMargin,
      // interpolated-bigram LM replay: zipped unnest + ordinality gives
      // the same (w1, w2) positions; identical 0.5/0.5 mix and mean-log
      "q120_bigram_logprob" ->
        """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
          |toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
          |uni AS (SELECT term, count(*) AS uc FROM toks GROUP BY term),
          |tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS t FROM uni),
          |bi0 AS (SELECT doc_id, ws, unnest(ws) AS w2, generate_subscripts(ws, 1) AS i FROM w),
          |bi AS (SELECT doc_id, ws[i - 1] AS w1, w2 FROM bi0 WHERE i >= 2),
          |bc AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY w1, w2)
          |SELECT bi.doc_id,
          |       round(avg(ln(0.5 * (CAST(bc.bc AS DOUBLE) / u1.uc)
          |                  + 0.5 * (CAST(u2.uc AS DOUBLE) / t))), 6) AS logprob
          |FROM bi
          |JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
          |JOIN uni u1 ON u1.term = bi.w1
          |JOIN uni u2 ON u2.term = bi.w2, tot
          |GROUP BY bi.doc_id""".stripMargin,
      // q139: the q120 bigram construction (generate_subscripts +
      // ws[i-1]) feeding the single-expression PMI; same \s-split twin
      "q139_pmi_bigrams" ->
        """WITH w AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
          |toks AS (SELECT unnest(ws) AS term FROM w),
          |uni AS (SELECT term, count(*) AS uc FROM toks GROUP BY term),
          |bi0 AS (SELECT ws, unnest(ws) AS w2, generate_subscripts(ws, 1) AS i FROM w),
          |bi AS (SELECT ws[i - 1] AS w1, w2 FROM bi0 WHERE i >= 2),
          |bcnt AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY w1, w2 HAVING count(*) >= 5),
          |tot AS (SELECT CAST((SELECT sum(uc) FROM uni) AS DOUBLE) AS nuni,
          |               CAST((SELECT count(*) FROM bi) AS DOUBLE) AS nbi)
          |SELECT bcnt.w1, bcnt.w2, CAST(bcnt.bc AS BIGINT) AS bc,
          |       round(ln(CAST(bcnt.bc AS DOUBLE) * nuni * nuni /
          |             (nbi * CAST(u1.uc AS DOUBLE) * CAST(u2.uc AS DOUBLE))), 6) AS pmi
          |FROM bcnt
          |JOIN uni u1 ON u1.term = bcnt.w1
          |JOIN uni u2 ON u2.term = bcnt.w2, tot""".stripMargin,
      // q140: rank by (tf DESC, term) exactly as the engine's window,
      // then the identical closed-form least-squares arithmetic
      "q140_zipf_fit" ->
        """WITH cnt AS (SELECT term, count(*) AS tf FROM (
          |    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS term
          |    FROM documents) GROUP BY term),
          |head AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y FROM (
          |    SELECT tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS rk FROM cnt)
          |  WHERE rk <= 1000),
          |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
          |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM head),
          |fit AS (SELECT n, sx, sy,
          |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
          |       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS sl FROM s)
          |SELECT CAST(n AS BIGINT) AS n_terms,
          |       round(sl, 6) AS slope,
          |       round((sy - sl * sx) / n, 6) AS intercept
          |FROM fit""".stripMargin,
      // q141: md5 of the space-joined first-16-token slice over the
      // near corpus — equal token streams give equal hex digests on
      // both engines
      "q141_prefix_clusters" -> (corpusNearCte +
        """,
          |f AS (SELECT doc_id,
          |  md5(array_to_string(list_slice(
          |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''),
          |    1, 16), ' ')) AS prefix_hash
          |  FROM corpus WHERE text IS NOT NULL)
          |SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(min(doc_id) AS BIGINT) AS min_doc_id
          |FROM f GROUP BY prefix_hash HAVING count(*) > 1""".stripMargin),
      // q142: the q88 token-count twin per source, q131's quantized
      // integer weights, left-to-right share arithmetic
      "q142_token_budget_plan" ->
        """WITH cnt AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |      ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) END) AS BIGINT)
          |      AS tokens_avail
          |  FROM documents GROUP BY source),
          |q AS (SELECT source, n_docs, tokens_avail,
          |        CAST(round(pow(CAST(tokens_avail AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS qw
          |      FROM cnt),
          |tot AS (SELECT CAST(sum(qw) AS DOUBLE) AS qt FROM q)
          |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tokens_avail,
          |       CASE WHEN qt = 0 THEN 0
          |            ELSE CAST(round(100000.0 * CAST(qw AS DOUBLE) / qt) AS BIGINT) END AS tokens_target,
          |       CASE WHEN tokens_avail = 0 THEN NULL
          |            ELSE round(CAST(CASE WHEN qt = 0 THEN 0
          |                 ELSE CAST(round(100000.0 * CAST(qw AS DOUBLE) / qt) AS BIGINT) END AS DOUBLE)
          |                 / CAST(tokens_avail AS DOUBLE), 6) END AS epochs
          |FROM q, tot""".stripMargin,
      // q143: identical IDF/tf expression shape as the q85 twin, each
      // term score quantized to integer micro-units BEFORE the
      // per-(query, doc) sum — the integer sum is order-independent,
      // so the ranking replays exactly on any engine or partitioning
      "q143_bm25_retrieve" ->
        """WITH q AS (SELECT * FROM (VALUES
          |    (1, 'spark table join scan'),
          |    (2, 'slow query merge vector'),
          |    (3, 'data window group sort')) AS t(query_id, qtext)),
          |qt AS (SELECT query_id,
          |    unnest(list_distinct(list_filter(regexp_split_to_array(lower(trim(qtext)), '\s+'), x -> x <> ''))) AS term
          |  FROM q),
          |w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents WHERE text IS NOT NULL),
          |st AS (SELECT count(*) AS n, avg(CAST(len(ws) AS BIGINT)) AS avgdl FROM w),
          |ti AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term FROM w),
          |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM ti
          |       WHERE term IN (SELECT DISTINCT term FROM qt)
          |       GROUP BY doc_id, dl, term),
          |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |sc AS (SELECT qt.query_id, tf.doc_id,
          |         CAST(round(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          |           * CAST(tf AS DOUBLE) * (1.2 + 1.0)
          |           / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
          |           * 1000000.0) AS BIGINT) AS s
          |       FROM tf JOIN dfx USING (term) JOIN qt USING (term), st),
          |agg AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score_q FROM sc GROUP BY query_id, doc_id),
          |r AS (SELECT query_id, doc_id, score_q,
          |        row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC) AS rank FROM agg)
          |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_q,
          |       CAST(rank AS BIGINT) AS rank
          |FROM r WHERE rank <= 10""".stripMargin,
      // q144: the shingle-CTE trigram construction per (doc, source),
      // df over distinct-per-doc grams, per-source top-5 by (df DESC,
      // gram ASC)
      "q144_template_ngrams" ->
        """WITH w AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents WHERE text IS NOT NULL),
          |s AS (SELECT doc_id, source,
          |        CASE WHEN len(ws) >= 3
          |             THEN list_distinct(list_transform(range(1, len(ws) - 1),
          |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |             ELSE [array_to_string(ws, ' ')] END AS sh
          |      FROM w),
          |d AS (SELECT source, unnest(sh) AS gram FROM s),
          |g AS (SELECT source, gram, count(*) AS df FROM d GROUP BY source, gram),
          |r AS (SELECT source, gram, df,
          |        row_number() OVER (PARTITION BY source ORDER BY df DESC, gram ASC) AS rank FROM g)
          |SELECT source, gram, df, CAST(rank AS BIGINT) AS rank
          |FROM r WHERE rank <= 5""".stripMargin,
      // q121: the same recursive-CTE closure as q58, but each group's
      // survivor is the argmax by (quality DESC, doc_id) — quality being
      // the exact q24 formula over the near-dup corpus
      "q121_dedup_best" -> dupBestOracle,
      "q122_containment" -> containmentOracle,
      "q123_containment_dedup" -> containmentDedupOracle,
      "q127_curation_report" -> curationReportOracle,
      // q136: q62's split CASE over the near corpus + q134's unordered
      // pair counts on the split label — same LSH recall precondition
      "q136_split_leakage" ->
        (corpusNearCte + jaccardPairsCtes +
          """,
            |sp AS (SELECT doc_id,
            |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd'
            |         THEN 'train'
            |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
            |         THEN 'val'
            |       ELSE 'test' END AS split
            |  FROM corpus),
            |pp AS (SELECT id1, id2 FROM jp WHERE jaccard >= 0.8)
            |SELECT least(sa.split, sb.split) AS source_a,
            |       greatest(sa.split, sb.split) AS source_b,
            |       count(*) AS n_pairs
            |FROM pp
            |JOIN sp sa ON sa.doc_id = pp.id1
            |JOIN sp sb ON sb.doc_id = pp.id2
            |GROUP BY 1, 2""".stripMargin),
      // q133: singleton-shingle ownership replayed on shingle STRINGS
      // (the Spark side counts distinct 64-bit shingle hashes — equal
      // modulo negligible collisions, the q22/q23 equivalence rule)
      "q133_shingle_novelty" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents)" +
          shingleCtes +
          """,
            |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
            |d AS (SELECT g, count(*) AS df, min(doc_id) AS only_doc
            |      FROM ex GROUP BY g),
            |u AS (SELECT only_doc AS doc_id, count(*) AS n_unique
            |      FROM d WHERE df = 1 GROUP BY only_doc)
            |SELECT s.doc_id,
            |       round(COALESCE(u.n_unique, 0) * 1.0 / len(s.sh), 6) AS novelty
            |FROM s LEFT JOIN u USING (doc_id)""".stripMargin),
      // q134: exact all-pairs >= 0.8 Jaccard over the sourced corpus
      // (mirror = byte-identical fifth docs, scrape = suffixed seventh
      // docs), sides resolved to sources, unordered pair counts. Same
      // LSH-recall data precondition as the q21/q23/q56 oracles.
      "q134_source_leakage" ->
        ("""WITH corpus AS (
           |  SELECT doc_id, text, source FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text, 'mirror' AS source
           |  FROM documents WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id,
           |         text || ' graft dup marker' AS text, 'scrape' AS source
           |  FROM documents WHERE doc_id % 7 = 0
           |)""".stripMargin + jaccardPairsCtes +
          """,
            |pp AS (SELECT id1, id2 FROM jp WHERE jaccard >= 0.8)
            |SELECT least(ca.source, cb.source) AS source_a,
            |       greatest(ca.source, cb.source) AS source_b,
            |       count(*) AS n_pairs
            |FROM pp
            |JOIN corpus ca ON ca.doc_id = pp.id1
            |JOIN corpus cb ON cb.doc_id = pp.id2
            |GROUP BY 1, 2""".stripMargin),
      // q135: exact integer cumsum over the frequency-ranked vocab
      // (ties by term — a total order, so RANGE = ROWS framing)
      "q135_vocab_coverage" ->
        """WITH w AS (
          |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
          |                     x -> x <> '') AS ws
          |  FROM documents),
          |tok AS (SELECT unnest(ws) AS term FROM w),
          |c AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
          |r AS (SELECT term, tf,
          |             CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rk,
          |             sum(tf) OVER (ORDER BY tf DESC, term
          |                           ROWS UNBOUNDED PRECEDING) AS cum
          |      FROM c),
          |tot AS (SELECT sum(tf) AS total FROM c),
          |th AS (SELECT CAST(unnest([0.5, 0.9, 0.95, 0.99]) AS DOUBLE) AS threshold)
          |SELECT th.threshold, min(r.rk) AS vocab_size
          |FROM r, tot, th
          |WHERE r.cum >= tot.total * th.threshold
          |GROUP BY th.threshold
          |ORDER BY th.threshold""".stripMargin,
      // the bounded complete-mode replay equals the batch counts, so
      // the PSI replay is pure SQL (same smoothing/order as q128)
      "q132_streaming_drift" ->
        """WITH a AS (SELECT event_type AS bucket, count(*) AS n_a
          |           FROM events WHERE event_id % 2 = 0 GROUP BY 1),
          |b AS (SELECT event_type AS bucket, count(*) AS n_b
          |      FROM events
          |      WHERE event_id % 2 = 1 AND event_type <> 'view'
          |      GROUP BY 1),
          |j AS (SELECT COALESCE(a.bucket, b.bucket) AS bucket,
          |             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          |      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
          |tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS t_a,
          |               CAST(sum(n_b) AS DOUBLE) AS t_b FROM j)
          |SELECT bucket, n_a, n_b,
          |       round((CAST(n_a + 1 AS DOUBLE) / (t_a + 8) - CAST(n_b + 1 AS DOUBLE) / (t_b + 8))
          |             * ln((CAST(n_a + 1 AS DOUBLE) / (t_a + 8)) / (CAST(n_b + 1 AS DOUBLE) / (t_b + 8))), 6) AS psi
          |FROM j, tot""".stripMargin,
      // quantized integer weights -> exact order-independent sums;
      // rate arithmetic pinned left-to-right; hex-prefix md5 draw
      "q131_temperature_mixture" ->
        """WITH cnt AS (
          |  SELECT source, count(*) AS n,
          |         CAST(round(pow(CAST(count(*) AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS q
          |  FROM documents GROUP BY source),
          |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt,
          |               CAST(sum(q) AS DOUBLE) AS qt FROM cnt),
          |r AS (SELECT source,
          |        least(1.0, 0.5 * nt * CAST(q AS DOUBLE) / qt / CAST(n AS DOUBLE)) AS rate
          |      FROM cnt, tot)
          |SELECT d.doc_id, d.source
          |FROM documents d JOIN r USING (source)
          |WHERE CAST('0x' || substring(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          |      < CAST(floor(rate * 4294967296.0) AS BIGINT)""".stripMargin,
      // q84's integer-argmax routing + quantized self-dot scoring +
      // the same (rank, cluster) pick order
      "q130_diverse_topk" ->
        """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
          |           FROM embeddings WHERE vec_id < 8),
          |d AS (SELECT e.vec_id, c.cid,
          |        CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
          |          i -> CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |             * CAST(round(CAST(c.cvec[i] AS DOUBLE) * 10000) AS BIGINT)))
          |          AS BIGINT) AS dot_q
          |      FROM embeddings e, c),
          |a AS (SELECT vec_id, cid AS cluster_id FROM d
          |      QUALIFY row_number() OVER (PARTITION BY vec_id
          |                                 ORDER BY dot_q DESC, cid) = 1),
          |sc AS (SELECT vec_id,
          |         CAST(list_sum(list_transform(generate_series(1, len(embedding)),
          |           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |              * CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)))
          |           AS BIGINT) AS score
          |       FROM embeddings),
          |r AS (SELECT a.vec_id, a.cluster_id, sc.score,
          |        row_number() OVER (PARTITION BY a.cluster_id
          |                           ORDER BY sc.score DESC, a.vec_id) AS rk
          |      FROM a JOIN sc ON sc.vec_id = a.vec_id)
          |SELECT vec_id, cluster_id, score,
          |       CAST(row_number() OVER (ORDER BY rk, cluster_id) AS BIGINT) AS pick_order
          |FROM r
          |QUALIFY pick_order <= 24""".stripMargin,
      // the q24 quality formula over both snapshots, then the same
      // fixed-bin + smoothing arithmetic as q128
      "q129_quality_drift" -> ("WITH x AS (SELECT 1)" +
        qualityCteOver(
          "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
          "qbase_a", "q_a") +
        qualityCteOver(
          "(SELECT doc_id, text || ' !!!! ???? 1234567890' AS text FROM documents WHERE doc_id % 2 = 1)",
          "qbase_b", "q_b") +
        """,
          |ba AS (SELECT CAST(least(greatest(floor((quality - 0.0) / 0.1), 0.0), 9.0) AS BIGINT) AS bucket,
          |              count(*) AS n_a FROM q_a GROUP BY 1),
          |bb AS (SELECT CAST(least(greatest(floor((quality - 0.0) / 0.1), 0.0), 9.0) AS BIGINT) AS bucket,
          |              count(*) AS n_b FROM q_b GROUP BY 1),
          |j AS (SELECT COALESCE(ba.bucket, bb.bucket) AS bucket,
          |             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          |      FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
          |tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS t_a,
          |               CAST(sum(n_b) AS DOUBLE) AS t_b FROM j)
          |SELECT bucket, n_a, n_b,
          |       round((CAST(n_a + 1 AS DOUBLE) / (t_a + 10) - CAST(n_b + 1 AS DOUBLE) / (t_b + 10))
          |             * ln((CAST(n_a + 1 AS DOUBLE) / (t_a + 10)) / (CAST(n_b + 1 AS DOUBLE) / (t_b + 10))), 6) AS psi
          |FROM j, tot""".stripMargin),
      // identical portable bucket function + smoothing + IEEE order
      "q128_term_drift" ->
        """WITH ta AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS term
          |  FROM documents WHERE doc_id % 2 = 0),
          |tb AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text || ' zdrift zmarker ztokens')), '\s+'), x -> x <> '')) AS term
          |  FROM documents WHERE doc_id % 2 = 1),
          |ba AS (SELECT (ascii(substring(term, 1, 1)) * 31 + length(term)) % 32 AS bucket,
          |              count(*) AS n_a FROM ta GROUP BY 1),
          |bb AS (SELECT (ascii(substring(term, 1, 1)) * 31 + length(term)) % 32 AS bucket,
          |              count(*) AS n_b FROM tb GROUP BY 1),
          |j AS (SELECT COALESCE(ba.bucket, bb.bucket) AS bucket,
          |             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          |      FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
          |tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS t_a,
          |               CAST(sum(n_b) AS DOUBLE) AS t_b FROM j)
          |SELECT bucket, n_a, n_b,
          |       round((CAST(n_a + 1 AS DOUBLE) / (t_a + 32) - CAST(n_b + 1 AS DOUBLE) / (t_b + 32))
          |             * ln((CAST(n_a + 1 AS DOUBLE) / (t_a + 32)) / (CAST(n_b + 1 AS DOUBLE) / (t_b + 32))), 6) AS psi
          |FROM j, tot""".stripMargin,
      // exact cross-corpus Jaccard screen replayed all-pairs
      // the q10 shape restricted to the streamed slice
      "q126_streaming_interval" -> (cteAB +
        """
          |SELECT a.contig AS contig, COUNT(*) AS cnt
          |FROM (SELECT * FROM a WHERE a_id < 2000) a
          |JOIN (SELECT * FROM b WHERE b_id < 2000) b
          |  ON a.contig = b.contig
          | AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start
          |GROUP BY a.contig""".stripMargin),
      "q124_near_dedup_seen" ->
        """WITH newd AS (SELECT doc_id, text FROM documents),
          |seen AS (SELECT doc_id AS sid, text || ' graft dup marker' AS text
          |         FROM documents WHERE doc_id % 3 = 0),
          |wn AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM newd),
          |sn AS (SELECT doc_id,
          |         CASE WHEN len(ws) >= 3
          |              THEN list_distinct(list_transform(range(1, len(ws) - 1),
          |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |              ELSE [array_to_string(ws, ' ')] END AS sh
          |       FROM wn),
          |wse AS (SELECT sid, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM seen),
          |sse AS (SELECT sid,
          |          CASE WHEN len(ws) >= 3
          |               THEN list_distinct(list_transform(range(1, len(ws) - 1),
          |                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |               ELSE [array_to_string(ws, ' ')] END AS sh
          |        FROM wse),
          |hits AS (SELECT DISTINCT n.doc_id
          |         FROM sn n JOIN sse s
          |           ON round(len(list_intersect(n.sh, s.sh)) * 1.0 /
          |                    len(list_distinct(list_concat(n.sh, s.sh))), 6) >= 0.8)
          |SELECT doc_id FROM newd
          |WHERE doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,
      // the z layout is a pure physical re-layout; ux/dom are derived
      // columns the oracle recomputes from the flat table
      "q118_zorder" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(value), 4) AS sum_value
          |FROM events
          |WHERE (user_id % 1024) BETWEEN 100 AND 160
          |  AND extract(day FROM ts) BETWEEN 5 AND 9
          |GROUP BY event_type""".stripMargin,
      // compaction is a pure physical re-layout of the events lake
      "q117_compaction" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(value), 4) AS sum_value
          |FROM events GROUP BY event_type""".stripMargin,
      // map entries ≡ the union of the json key and the computed key
      "q116_map_explode" ->
        """WITH kv AS (
          |  SELECT event_type, 'k' AS key,
          |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS val
          |  FROM events
          |  UNION ALL
          |  SELECT event_type, 'u_mod', user_id % 7 FROM events)
          |SELECT event_type, key, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(val) AS BIGINT) AS sum_val
          |FROM kv GROUP BY event_type, key""".stripMargin,
      // identical micros-epoch RANGE frame in DuckDB
      "q115_rolling_window" ->
        """SELECT event_id, user_id,
          |  CAST(count(*) OVER w AS BIGINT) AS n_trailing_hour,
          |  round(sum(value) OVER w, 4) AS sum_trailing_hour
          |FROM (SELECT event_id, user_id, epoch_us(ts) AS t_us, value
          |      FROM events)
          |WINDOW w AS (PARTITION BY user_id ORDER BY t_us
          |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
      // Lloyd-step replay: q84's integer-argmax assignment feeding
      // q93's exact quantized sums, mean_q = round(sum_q/n) — the same
      // IEEE division + half-away round in both engines
      "q100_kmeans_iter" ->
        """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
          |           FROM embeddings WHERE vec_id < 8),
          |d AS (SELECT e.vec_id, e.embedding, c.cid,
          |        CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
          |          i -> CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |             * CAST(round(CAST(c.cvec[i] AS DOUBLE) * 10000) AS BIGINT)))
          |          AS BIGINT) AS dot_q
          |      FROM embeddings e, c),
          |a AS (SELECT vec_id, embedding, cid AS cluster_id FROM d
          |      QUALIFY row_number() OVER (PARTITION BY vec_id
          |                                 ORDER BY dot_q DESC, cid) = 1),
          |q AS (SELECT cluster_id, CAST(i - 1 AS BIGINT) AS dim,
          |        CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS qv
          |      FROM a, generate_series(1, 64) t(i)),
          |s AS (SELECT cluster_id, dim, CAST(SUM(qv) AS BIGINT) AS sum_q
          |      FROM q GROUP BY 1, 2),
          |n AS (SELECT cluster_id, count(*) AS n_points FROM a GROUP BY 1)
          |SELECT s.cluster_id, s.dim,
          |       CAST(round(CAST(s.sum_q AS DOUBLE) / n.n_points) AS BIGINT)
          |         AS mean_q,
          |       n.n_points
          |FROM s JOIN n USING (cluster_id)""".stripMargin,
      // oracle pins n_mismatch = 0: a lossy JSON string round trip
      // (escaping, unicode, truncation) breaks the hash
      "q101_jsonl_roundtrip" ->
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       CAST(0 AS BIGINT) AS n_mismatch
          |FROM documents GROUP BY lang""".stripMargin,
      // the bucketed layout must be a pure physical re-layout: the
      // oracle joins the flat tables
      "q102_bucketed_join" ->
        """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
          |       round(sum(o_totalprice), 2) AS sum_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin,
      // join-to-distinct-days ≡ day-of-month filter (the dim days are
      // drawn from the same events), under the pinned UTC session
      "q103_dpp" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(value), 4) AS sum_value
          |FROM events WHERE extract(day FROM CAST(ts AS DATE)) = 15
          |GROUP BY event_type""".stripMargin,
      // full PQ replay in SQL: quantize (round(x·1e4) as BIGINT, the
      // q84 rule), codebook = subvectors of vec_id < 16, encode by
      // per-(vec, subspace) argmin of exact integer squared L2 (ties →
      // lowest cid), ADC = sum of vec 0's lookup-table entries at the
      // assigned codes — identical integers to the Spark side
      "q104_pq_adc" ->
        """WITH js AS (SELECT unnest(generate_series(0, 7)) AS j),
          |sv AS (
          |  SELECT e.vec_id, js.j,
          |         list_transform(generate_series(1, 8),
          |           i -> CAST(round(CAST(e.embedding[js.j * 8 + i] AS DOUBLE)
          |                           * 10000) AS BIGINT)) AS qs
          |  FROM embeddings e, js),
          |cb AS (SELECT j, vec_id AS cid, qs AS qc FROM sv WHERE vec_id < 16),
          |dist AS (
          |  SELECT sv.vec_id, sv.j, cb.cid,
          |         CAST(list_sum(list_transform(generate_series(1, 8),
          |           i -> (sv.qs[i] - cb.qc[i]) * (sv.qs[i] - cb.qc[i])))
          |           AS BIGINT) AS qd
          |  FROM sv JOIN cb ON sv.j = cb.j),
          |codes AS (
          |  SELECT vec_id, j, cid AS code FROM dist
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
          |                             ORDER BY qd, cid) = 1),
          |lut AS (SELECT j, cid, qd FROM dist WHERE vec_id = 0),
          |adc AS (
          |  SELECT c.vec_id, CAST(sum(l.qd) AS BIGINT) AS dist_q
          |  FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.cid
          |  GROUP BY c.vec_id)
          |SELECT vec_id, dist_q FROM adc
          |ORDER BY dist_q, vec_id LIMIT 10""".stripMargin,
      // the bloom filter is sound (never drops a joinable row), so the
      // pruned join must equal the plain join
      "q105_runtime_filter" ->
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
          |       round(sum(l_extendedprice), 2) AS sum_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_totalprice > 450000.0
          |GROUP BY o_orderpriority""".stripMargin,
      // the sorted layout is a pure physical re-layout of documents
      "q106_sorted_layout" ->
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE n_chars BETWEEN 100 AND 160
          |GROUP BY lang""".stripMargin,
      // IVF-PQ replay: q84's cell routing + q104's codes/LUT, the
      // query's 2 nearest cells by the same integer metric, ADC over
      // cell members only — identical integers to the Spark side
      "q108_ivfpq" ->
        """WITH cc AS (SELECT vec_id AS ccid, embedding AS ccvec
          |            FROM embeddings WHERE vec_id < 8),
          |cd AS (SELECT e.vec_id, cc.ccid,
          |        CAST(list_sum(list_transform(generate_series(1, len(e.embedding)),
          |          i -> CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
          |             * CAST(round(CAST(cc.ccvec[i] AS DOUBLE) * 10000) AS BIGINT)))
          |          AS BIGINT) AS dot_q
          |       FROM embeddings e, cc),
          |cells AS (SELECT vec_id, ccid AS cell FROM cd
          |          QUALIFY row_number() OVER (PARTITION BY vec_id
          |                                     ORDER BY dot_q DESC, ccid) = 1),
          |probes AS (SELECT ccid AS cell FROM cd WHERE vec_id = 0
          |           ORDER BY dot_q DESC, ccid LIMIT 2),
          |js AS (SELECT unnest(generate_series(0, 7)) AS j),
          |sv AS (
          |  SELECT e.vec_id, js.j,
          |         list_transform(generate_series(1, 8),
          |           i -> CAST(round(CAST(e.embedding[js.j * 8 + i] AS DOUBLE)
          |                           * 10000) AS BIGINT)) AS qs
          |  FROM embeddings e, js),
          |cb AS (SELECT j, vec_id AS cid, qs AS qc FROM sv WHERE vec_id < 16),
          |dist AS (
          |  SELECT sv.vec_id, sv.j, cb.cid,
          |         CAST(list_sum(list_transform(generate_series(1, 8),
          |           i -> (sv.qs[i] - cb.qc[i]) * (sv.qs[i] - cb.qc[i])))
          |           AS BIGINT) AS qd
          |  FROM sv JOIN cb ON sv.j = cb.j),
          |codes AS (
          |  SELECT vec_id, j, cid AS code FROM dist
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
          |                             ORDER BY qd, cid) = 1),
          |lut AS (SELECT j, cid, qd FROM dist WHERE vec_id = 0),
          |adc AS (
          |  SELECT c.vec_id, CAST(sum(l.qd) AS BIGINT) AS dist_q
          |  FROM codes c
          |  JOIN cells ON c.vec_id = cells.vec_id
          |  JOIN probes ON cells.cell = probes.cell
          |  JOIN lut l ON c.j = l.j AND c.code = l.cid
          |  GROUP BY c.vec_id)
          |SELECT vec_id, dist_q FROM adc
          |ORDER BY dist_q, vec_id LIMIT 10""".stripMargin
    )
}
