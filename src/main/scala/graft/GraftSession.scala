package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import graft.plans.IntervalJoinStrategy

/**
 * Session bootstrap for the graft engine.
 *
 * The reference engine (sequila-native) installs its extension by rebuilding
 * the DataFusion session: it drops the built-in `join_selection` physical rule
 * and appends its interval-join rewrite
 * (reference: sequila/sequila-core/src/session_context.rs:16-48).
 *
 * Spark needs none of that surgery: planner strategies injected via
 * `SparkSessionExtensions` (or `spark.experimental.extraStrategies`) are
 * consulted *before* Spark's own `JoinSelection`, so claiming the `Join`
 * logical node pre-empts the built-in hash/nested-loop plans naturally.
 */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.IntervalCountRewrite)
    e.injectOptimizerRule(_ => graft.plans.AutoBinIntervalJoin)
    // AQE re-optimization sees RUNTIME sizes (materialized stage stats):
    // a KEYLESS join whose static estimate looked broadcast-able but
    // materialized huge gets the skew-binned rewrite on accurate numbers.
    // (The keyed low-NDV trigger still needs column stats, which runtime
    // LogicalQueryStage statistics don't carry — that path fires only on
    // the static pass.) Idempotent — the rule skips joins whose keys
    // already carry a bin column.
    e.injectRuntimeOptimizerRule(_ => graft.plans.AutoBinIntervalJoin)
    e.injectFunction(graft.functions.CosineSimilarity.functionDescription)
    graft.functions.GraftFunctions.registrations.foreach(e.injectFunction)
  }
}

object GraftSession {

  /** Conf keys (mirrors the session options of the reference,
    * sequila/sequila-core/src/session_context.rs:50-60). The distribution
    * mode has no key of its own: like the reference, which takes it from
    * the join it rewrites, it follows `spark.sql.autoBroadcastJoinThreshold`
    * and the build side's join hints (`IntervalJoinStrategy.modeFor`). The
    * reference's `interval_join_low_memory` is moot here: Spark's
    * pull-based row iterators never materialize join output per-batch. */
  val PreferIntervalJoin = "spark.graft.intervalJoin.enabled"
  val IntervalJoinAlgorithm = "spark.graft.intervalJoin.algorithm"
  /** "auto" (default) | "force" | "off" — skew-proof binned rewrite of
    * interval joins (see [[graft.plans.AutoBinIntervalJoin]]). */
  val AutoBin = "spark.graft.intervalJoin.autoBin"
  /** Bin width (coordinate units) for the binned rewrite; ~10× the typical
    * interval span is a good setting (1e6 for genome coordinates). */
  val BinSize = "spark.graft.intervalJoin.binSize"
  /** Hard cap (bytes) on one interval-join build side; 0 = uncapped. The
    * executor-side build additionally reserves from the task memory pool
    * (see [[graft.plans.BuildMemoryAccountant]]) — this cap exists for the
    * driver-side broadcast build and deterministic failure tests. */
  val MaxBuildBytes = "spark.graft.intervalJoin.maxBuildBytes"

  /** Idempotently install the graft planner strategies on an existing
    * session (covers driver-created sessions that did not pass
    * `.withExtensions`).
    *
    * Known gap vs the extension path: `injectRuntimeOptimizerRule` has no
    * post-creation public hook, so install()-bootstrapped sessions run
    * the AutoBin skew rewrite only in the STATIC optimizer — the AQE
    * re-optimization pass (which catches keyless joins whose static size
    * estimate was wrong) is extension-only. Prefer
    * `.withExtensions(new GraftSparkSessionExtension)` (or the
    * `spark.sql.extensions` conf) when building the session yourself.
    *
    * The rules are stateless (they read the planning session's conf), so
    * sessions cloned from an installed one inherit them and still plan
    * under their own confs. */
  def install(spark: SparkSession): SparkSession = synchronized {
    if (!spark.experimental.extraStrategies.contains(IntervalJoinStrategy)) {
      spark.conf.set(ArtifactIsolation, "false")
      spark.experimental.extraStrategies =
        IntervalJoinStrategy +: spark.experimental.extraStrategies
      spark.experimental.extraOptimizations =
        graft.plans.IntervalCountRewrite +:
          graft.plans.AutoBinIntervalJoin +:
          spark.experimental.extraOptimizations
    }
    val (ident, info, builder) =
      graft.functions.CosineSimilarity.functionDescription
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    graft.functions.GraftFunctions.registrations.foreach {
      case (id, inf, b) =>
        spark.sessionState.functionRegistry.registerFunction(id, inf, b)
    }
    spark
  }

  /** Query entries and the big-graph star loop plan in clones of the
    * caller's session. A clone of an artifact-isolated session runs its
    * tasks under its own class loader, and Spark keys its generated-code
    * cache by class loader, so every clone would recompile every
    * generated class of its plans (measured: 73-80 compiles per warm
    * 1.26 M-edge star loop instead of 6-27, 20-30 % slower). Neither the
    * engine nor its clones add session artifacts, so installed sessions
    * (and their clones) share the default artifact scope. Read when the
    * session first needs it, so it holds when set before the first job
    * (and always for clones made after it is set). */
  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Builder for standalone use / tests. */
  def builder(master: String = "local[*]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config(ArtifactIsolation, "false")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkSessionExtension)
}

/** Uniform access to the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    // raw Long; re-expose it as a proper (microsecond) timestamp so SQL
    // over the view matches DuckDB's native nanosecond read.
    // NOTE: nanosAsLong is a SESSION-level flip that stays set (restoring
    // it after the eager schema read risks diverging from what execution
    // re-reads) — other TIMESTAMP(NANOS) parquet in the same session will
    // also surface as Long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(name, spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** Streaming analogue of [[load]]: the same table as a file-stream
    * source, with the schema and the nanos-`ts` conversion mirroring
    * the batch read exactly (a streaming source cannot infer schemas,
    * so the batch footer read supplies it). */
  def loadStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/$name.parquet").schema
    // FileStreamSource force-sets basePath to its own path whenever the
    // path is NOT a glob — and a single-FILE basePath fails partition
    // discovery ("Option 'basePath' must be a directory"). The driver
    // testdata is one parquet file per table, so address it through an
    // exact-match one-character-class glob: globs skip that override.
    normalizeTs(name,
      spark.readStream.schema(schema)
        .parquet(s"$sfDir/[${name.head}]${name.tail}.parquet"))
  }

  /** Normalize `events.ts` to a proper TimestampType regardless of how the
    * parquet writer stamped it. Two shapes appear in driver testdata:
    *  - TIMESTAMP(NANOS), which Spark reads only as a raw Long (under the
    *    nanosAsLong flip) → floor-divide to micros;
    *  - timestamp[us] with isAdjustedToUTC=false, which Spark reads as
    *    TIMESTAMP_NTZ → cast to TimestampType. The cast reinterprets the
    *    wall-clock fields in the session time zone; the session is pinned
    *    to UTC, so the underlying epoch-micros value is unchanged (exact,
    *    no rounding), matching DuckDB's native read of the same file.
    * Mirrors the reference's cast-at-the-boundary posture (reference:
    * sequila/sequila-core/src/physical_planner/interval_join.rs:1661-1672
    * casts bound expressions to the join's coordinate type regardless of
    * the source column type). */
  private def normalizeTs(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division, not `DIV` (which truncates toward zero): a
        // pre-epoch nanosecond like -1500 must floor to -2 µs the way a
        // native nanosecond-to-micros conversion does, or pre-epoch rows
        // sit 1 µs later than the DuckDB oracle's read
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(
              "(ts DIV 1000) - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every table as a temp view so `spark.sql` mirrors the
    * DuckDB-oracle naming exactly. Idempotent per (session, sfDir) — each
    * query fn calls this, and re-reading 10 parquet footers per query
    * would dominate small-query bench times. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    if (registeredDir.get(spark) != sfDir) {
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, sfDir)
    }
  }
}
