package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{Curation, Dedup, TextStats}

/** A seeded training corpus for the curation report: English prose
  * over a fixed pseudo-word vocabulary, with planted byte-exact copies,
  * near-copies (a few words swapped), contained excerpts (a contiguous
  * run of another document's words), German documents and short noisy
  * low-quality documents. Each planted copy, excerpt and near-copy has a
  * source document of its own.
  *
  * One operation is `Curation.curationReport` collected as the flagged
  * documents and their reasons. The language and quality gates, the
  * byte-exact copies and the excerpts are decided exactly, so each must
  * carry its planted reason; near-copies go through MinHash LSH, which is
  * probabilistic, so every answer must also equal the warm-up's. */
final class CurationCorpus extends Workload {
  final case class In(ids: Array[Long], texts: Array[String], planted: Map[Long, String])
  final case class Data(docs: DataFrame)
  type Ans = Map[Long, String]

  val name = "curation"

  private val Docs = 2000
  private val PlantShare = 0.04
  private val StopShare = 0.3
  private val KernelPasses = 4

  private lazy val vocab: Array[String] = {
    val rnd = new SplittableRandom(0x5EEDL)
    val on = "b c d f g h k l m n p r s t v w z br st tr pl gr".split(' ')
    val nu = "a e i o u ai ea ou".split(' ')
    val stop = (TextStats.enStopList ++ TextStats.deStopList ++
      TextStats.frStopList ++ TextStats.esStopList).toSet
    Iterator.continually((0 until 2 + rnd.nextInt(3)).map(_ =>
      on(rnd.nextInt(on.length)) + nu(rnd.nextInt(nu.length))).mkString)
      .filterNot(stop).distinct.take(4000).toArray
  }

  def generate(seed: Long): In = {
    val rnd = new SplittableRandom(Workload.mix(seed ^ 0xC0B905L))
    def prose(stops: Seq[String], n: Int): Array[String] = Array.fill(n)(
      if (rnd.nextDouble() < StopShare) stops(rnd.nextInt(stops.length))
      else vocab(rnd.nextInt(vocab.length)))
    val plants = (Docs * PlantShare).toInt
    val bases = Docs - 5 * plants
    val baseToks = Array.fill(bases)(prose(TextStats.enStopList, 80 + rnd.nextInt(161)))
    // distinct sources for copies, near-copies and excerpts
    val order = Array.range(0, bases)
    for (i <- bases - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
    }
    val copies = order.slice(0, plants)
    val nears = order.slice(plants, 2 * plants)
    val excerpts = order.slice(2 * plants, 3 * plants)
    val texts = Array.newBuilder[String]
    val kinds = Array.newBuilder[(String, Int)]  // (kind, source base index or -1)
    baseToks.foreach(t => texts += t.mkString(" "))
    (0 until bases).foreach(_ => kinds += ("base" -> -1))
    copies.foreach { s => texts += baseToks(s).mkString(" "); kinds += ("copy" -> s) }
    nears.foreach { s =>
      val t = baseToks(s).clone()
      (0 until math.max(2, t.length / 50)).foreach(_ =>
        t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length)))
      texts += t.mkString(" "); kinds += ("near" -> s)
    }
    excerpts.foreach { s =>
      val t = baseToks(s)
      val len = t.length * (40 + rnd.nextInt(21)) / 100
      val from = rnd.nextInt(t.length - len + 1)
      texts += t.slice(from, from + len).mkString(" "); kinds += ("excerpt" -> s)
    }
    (0 until plants).foreach { _ =>
      texts += prose(TextStats.deStopList, 80 + rnd.nextInt(161)).mkString(" ")
      kinds += ("german" -> -1)
    }
    (0 until plants).foreach { _ =>
      val noise = Array.fill(10)((1000 + rnd.nextInt(9000)).toString + "!?;:.,"(rnd.nextInt(6)) + "-")
      texts += ("the" +: "of" +: noise).mkString(" "); kinds += ("noisy" -> -1)
    }
    val text = texts.result()
    val kind = kinds.result()
    // ids: a seeded permutation, so id order says nothing about planting
    val ids = Array.range(0, text.length).map(_.toLong)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val x = ids(i); ids(i) = ids(j); ids(j) = x
    }
    val planted = kind.indices.flatMap { i =>
      kind(i) match {
        case ("copy", s) => Some(math.max(ids(i), ids(s)) -> "near_dup")
        case ("excerpt", _) => Some(ids(i) -> "contained")
        case ("german", _) => Some(ids(i) -> "lang")
        case ("noisy", _) => Some(ids(i) -> "quality")
        case _ => None
      }
    }.toMap
    In(ids, text, planted)
  }

  def fingerprint(in: In): Long = in.ids.indices.foldLeft(23L)((h, i) =>
    Workload.mix(h ^ in.ids(i) ^ in.texts(i).hashCode.toLong << 20))

  def expected(in: In): Ans = in.planted

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def load(spark: SparkSession, in: In): Data = {
    val rows = in.ids.indices.map(i => Row(in.ids(i), in.texts(i)))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism * 2), schema).cache()
    docs.count()
    Data(docs)
  }

  def unload(d: Data): Unit = d.docs.unpersist(blocking = true)

  def op(spark: SparkSession, d: Data, t: Tracer): Ans = {
    val report = t.span("operators.curation_report")(
      Curation.curationReport(d.docs, "doc_id", "text"))
    t.span("operators.curation_collect")(
      report.where(col("reason").isNotNull).select("doc_id", "reason").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  def check(exp: Ans, warm: Ans, got: Ans): Boolean =
    exp.forall { case (id, why) => got.get(id).contains(why) } && got == warm

  def offByOne(exp: Ans): Seq[Ans] = {
    val (id, why) = exp.head
    Seq(exp - id, exp.updated(id, if (why == "lang") "quality" else "lang"))
  }

  def workPerOp(in: In, exp: Ans): Long = in.ids.length.toLong

  /** The report's stages replayed one public call at a time (with the
    * report's default thresholds), each under a job group of its own,
    * and the text kernels evaluated in the driver over every document
    * (fastest of five rounds of KernelPasses passes). */
  override def probes(spark: SparkSession, in: In, d: Data, warm: Ans, t: Tracer,
      prof: StageProfile): ProbeResult = {
    // the kernels by SQL name, evaluated in the driver over every document
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def kernel(name: String, input: Expression): Expression =
      registry.lookupFunction(FunctionIdentifier(name), Seq(input))
    val text = BoundReference(0, StringType, nullable = false)
    val shingles = kernel("shingle_hashes", text)
    val docs = in.texts.map(s => InternalRow(UTF8String.fromString(s)))
    val hashes = docs.map(r => InternalRow(shingles.eval(r)))
    def perDoc(name: String, e: Expression, rows: Array[InternalRow]): Double =
      t.span(s"functions.$name") {
        (1 to 5).map(_ => Workload.seconds {
          (1 to KernelPasses).foreach(_ => rows.foreach(e.eval))
        }._2).min * 1e9 / (rows.length * KernelPasses)
      }
    val kernels = Map(
      "functions.text_profile_ns_per_doc" -> perDoc("text_profile", kernel("text_profile", text), docs),
      "functions.shingle_hashes_ns_per_doc" -> perDoc("shingle_hashes", shingles, docs),
      "functions.minhash_ns_per_doc" -> perDoc("minhash", kernel("minhash_signature",
        BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false)), hashes))

    def stage[T](name: String)(body: => T): (T, Double, (Long, Long)) = {
      val ((r, sec), wall) = Workload.grouped(spark, s"probe-$name")(
        Workload.seconds(t.span(s"operators.$name")(body)))
      (r, sec, wall)
    }
    val (gated, gateS, _) = stage("text_gate")(d.docs
      .where(TextStats.langId(col("text")) === "en" &&
        TextStats.qualityScore(col("text")) >= 0.5)
      .select("doc_id", "text").localCheckpoint())
    val (stars, starsS, _) = stage("exact_stars")(
      Dedup.exactDupStars(gated, "doc_id", "text").localCheckpoint())
    val (cands, _, _) = stage("lsh_candidates")(
      Dedup.lshCandidatePairs(gated, "doc_id", "text").count())
    val (near, nearS, _) = stage("minhash_pairs")(
      Dedup.minhashDupPairs(gated, "doc_id", "text", 0.8).select("id1", "id2").localCheckpoint())
    val nearPairs = near.count()
    val (losers, ccS, ccWall) = stage("cc")(
      Dedup.connectedComponents(near.unionByName(stars))
        .where(col("id") =!= col("group_id")).select(col("id").as("doc_id")).localCheckpoint())
    val survivors = gated.join(losers, Seq("doc_id"), "left_anti")
    val (contPairs, contS, contWall) = stage("containment")(
      Dedup.containmentDupPairs(survivors, "doc_id", "text", 0.9).count())
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val cc = prof.group("probe-cc", ccWall)
    val cont = prof.group("probe-containment", contWall)
    val nearLosers = losers.count()
    Seq(gated, stars, near, losers).foreach(_.unpersist(blocking = true))
    ProbeResult(kernels ++ Map(
      "operators.text_gate_s" -> gateS,
      "operators.exact_stars_s" -> starsS,
      "operators.minhash_pairs_s" -> nearS,
      "operators.lsh_candidates" -> cands.toDouble,
      "operators.lsh_verified_frac" -> (if (cands > 0) nearPairs.toDouble / cands else 0.0),
      "operators.containment_s" -> contS,
      "operators.containment_shuffle_bytes" -> cont("shuffle_write_bytes"),
      "operators.containment_spill_bytes" -> cont("spill_bytes"),
      "operators.containment_pairs" -> contPairs.toDouble,
      "operators.cc_s" -> ccS,
      "operators.cc_jobs" -> cc("jobs"),
      "operators.cc_stages" -> cc("stages")),
      Map("operators.replay_near_losers" -> s"$nearLosers vs report ${warm.values.count(_ == "near_dup")}"),
      consistent = nearLosers == warm.values.count(_ == "near_dup"))
  }
}
