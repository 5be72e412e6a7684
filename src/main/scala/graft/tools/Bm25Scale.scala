package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25-retrieval scale law (r16 verdict #6): the rebuilt kernel
  * path's cost drivers are |matched (doc, term)| and the driver-built
  * term → query-ids table, so this records a decade grid — docs ×1/×10
  * (sf0.1 vs the 10× GenScale decade) crossed with queries ×1/×10 —
  * with the TABLE BUILD time measured separately from the query wall,
  * making the documented ~2-3 M-query ceiling a measured line instead
  * of prose. Query derivation matches the bench entry (every Nth
  * document's first 4 tokens); the ×10 query load drops the stride.
  * One JSON line at the end; per-cell lines as it goes.
  */
object Bm25Scale {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "target/sf1")
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Exception => "" }
    val loadStart =
      sys.env.get("GRAFT_PREJVM_LOADAVG").filter(_.nonEmpty)
        .getOrElse(loadavg)
    val (calS0, calM0, calibStart) = graft.Calib.measured("_start")
    val cpus = graft.GraftSession.mainCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
    val cells = scala.collection.mutable.ArrayBuffer.empty[String]
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    for (dir <- dirs; stride <- Seq(5, 1)) {
      val docs = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val qs = docs
        .where(col("text").isNotNull && col("doc_id") % stride === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.operators.Dedup.words(col("text")), 1, 4),
            " ").as("query_text"))
        .localCheckpoint()
      val nQ = qs.count()
      // isolate the driver-table build: run the same aggregation +
      // collect bm25Retrieve performs (sorted groups), timed alone —
      // the ceiling's cost component that scales with |query terms|
      val tTab0 = System.nanoTime()
      val qTerms = qs.select(col("query_id"),
        explode(array_distinct(
          graft.operators.Dedup.words(col("query_text")))).as("term"))
      val groups = qTerms.groupBy("term")
        .agg(collect_list("query_id").as("qids")).collect()
      val qidEntries = groups.map(
        _.getSeq[Long](1).size.toLong).sum
      val tableSec = (System.nanoTime() - tTab0) / 1e9
      // the full operator, twice (cold + warm) — wall includes its own
      // internal table build, so cell wall minus tableSec ≈ kernel +
      // shuffle + top-k path
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = graft.operators.TextStats.bm25Retrieve(docs, "doc_id",
          "text", qs, "query_id", "query_text", k = 10).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (cold, _) = run()
      val (warm, rowsDefault) = run()
      // capped twin (r17 verdict #4): this synthetic is the dense
      // worst case — EVERY query term is corpus-dense (30-term shared
      // vocabulary), so a df cap at 5% of the corpus drops them all
      // and the wall must flatten to the fixed non-fan-out work
      // (tokenize + tf + stats). Real heavy-tail vocabularies keep
      // their rare terms under the cap; here the flat line IS the
      // bound the cap buys against the adversarial shape.
      val nDocs = docs.where(col("text").isNotNull).count()
      val cap = math.max(1L, nDocs / 20)
      spark.conf.set(
        graft.operators.TextStats.Bm25MaxTermDfConf, cap.toString)
      val (cappedCold, rowsCapped) = try run()
        finally spark.conf.unset(
          graft.operators.TextStats.Bm25MaxTermDfConf)
      val cell = s"""{"dir":"$dir","stride":$stride,"n_queries":$nQ,""" +
        s""""distinct_terms":${groups.length},"qid_entries":$qidEntries,""" +
        s""""table_build_sec":${fmt(tableSec)},"cold_sec":${fmt(cold)},""" +
        s""""warm_sec":${fmt(warm)},"rows":$rowsDefault,""" +
        s""""max_term_df":$cap,"capped_sec":${fmt(cappedCold)},""" +
        s""""capped_rows":$rowsCapped}"""
      println(s"BM25SCALE $cell")
      cells += cell
    }
    // window_dirty, same rubric as graft.Bench/BenchScale (r17 verdict
    // #7: the r17 bm25_scale sf0.1-stride1 dirty cell — warm 37.9 s >
    // cold 20.7 s — was only catchable from its stamps)
    val (calS1, calM1, calibEnd) = graft.Calib.measured("_end")
    def drift(a: Double, b: Double): Double =
      if (math.min(a, b) <= 0) 0.0 else math.abs(a - b) / math.min(a, b)
    val load1 = loadStart.split(",").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
    val windowDirty = load1 > 2.0 ||
      drift(calS0, calS1) > 0.15 || drift(calM0, calM1) > 0.15
    println(s"""{"metric":"bm25_scale","cells":[${cells.mkString(",")}],"loadavg_start":"$loadStart","loadavg_end":"$loadavg",$calibStart,$calibEnd,"window_dirty":$windowDirty}""")
    spark.stop()
  }
}
