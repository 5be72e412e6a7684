package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end curation with an AUDIT TRAIL — the composed pipeline a
 * training-data curator actually runs, as ONE call that reports, for
 * every input document, whether it survives and (if not) the FIRST
 * stage that dropped it. The report form matters operationally: at
 * 100 TB you tune thresholds from the per-stage drop counts, and an
 * auditable reason per document is what makes a curation run
 * reviewable (and reproducible) instead of a black-box filter.
 *
 * Stage order (first failing stage wins, pinned — the DuckDB oracle
 * replays the same precedence):
 *
 *   1. `lang`      — language-ID not in the allow list
 *   2. `quality`   — composite quality score below `minQuality`
 *   3. `near_dup`  — non-canonical member of a >= `nearThreshold`
 *                    Jaccard duplicate group (lowest id survives),
 *                    groups computed among stage-1/2 survivors only:
 *                    [[Dedup.minhashDupPairs]] (uncapped MinHash-LSH
 *                    candidates, exact Jaccard verify) feeding
 *                    [[Dedup.connectedComponents]]. Byte-equal texts
 *                    share a signature, so they collide in every band
 *                    and verify at 1.0 (empty texts too: ∅ vs ∅ is
 *                    1.0) — every byte-equal family collapses here
 *   4. `contained` — shingle-subset of another stage-3 survivor
 *                    ([[Dedup.removeContained]] rule: mutual classes
 *                    keep the lower id)
 *   5. `contaminated` — (only when an eval corpus is supplied) >=
 *                    `decontaminationThreshold` Jaccard against ANY
 *                    eval document ([[Dedup.crossCorpusDupPairs]],
 *                    eval side broadcast size-gated) — checked LAST so
 *                    a doc dropped for pipeline-internal reasons never
 *                    masks as an eval hit
 *
 * Scale shape: each stage reuses the already-proven operator (compiled
 * text kernels map-side; one LSH-bucketed near-dup pass; bottom-k-sketch
 * containment); the dedup stages run on the gate SURVIVORS only, so
 * low-quality bulk never reaches a shuffle; the report join brings
 * back only 9-to-17-byte loser rows. Gate survivors are shingle-hashed
 * once, in the gate kernels' checkpoint; both dedup stages read that.
 */
object Curation {

  /** One row per input document: `doc_id`, `reason` (the first failing
    * stage, NULL for a keeper) and `keep`. A `nearThreshold` (or, with
    * an eval corpus, a `decontaminationThreshold`) outside (0,1] is
    * rejected with an IllegalArgumentException. */
  def curationReport(docs: DataFrame, idCol: String, textCol: String,
      langs: Seq[String] = Seq("en"), minQuality: Double = 0.5,
      nearThreshold: Double = 0.8,
      containThreshold: Double = 0.9,
      evalDocs: Option[DataFrame] = None,
      evalIdCol: String = "doc_id", evalTextCol: String = "text",
      decontaminationThreshold: Double = 0.8): DataFrame = {
    require(langs.nonEmpty, "curationReport needs a language allow-list")
    Dedup.requireThreshold(nearThreshold)
    Dedup.requireThreshold(containThreshold)
    // materialization rule ([[Dedup.shingleFrame]]): `base` feeds the
    // near-dup pipeline, the containment pipeline and the final report
    // join — subtree references each of which would re-run the
    // langId/quality kernels, and the shingle kernel, over the full
    // corpus. One eager localCheckpoint computes them once; `sh` is
    // NULL outside the gate, so only gate survivors are hashed. Blocks
    // are ContextCleaner-freed when the report is GC'd.
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("lang_ok",
        TextStats.langId(col("text")).isin(langs: _*))
      .withColumn("quality_ok",
        TextStats.qualityScore(col("text")) >= minQuality)
      .withColumn("sh", when(col("lang_ok") && col("quality_ok"),
        Dedup.shingleHashes(col("text"), 3)))
      .localCheckpoint()
    val gatedSh = base.where(col("sh").isNotNull)
      .select(col("doc_id").as("id"), col("sh"))
    val nearPairs = Dedup.minhashDupPairsFromHashes(gatedSh, nearThreshold)
      .select(col("id1"), col("id2"))
    val nearLosers = Dedup.connectedComponents(nearPairs)
      .where(col("id") =!= col("group_id"))
      .select(col("id").as("doc_id"), lit(true).as("near_loser"))
    // containment reads its frame from four subtrees: checkpoint the
    // survivors' slice (an array copy, no kernel)
    val survivorSh = gatedSh
      .join(nearLosers.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .localCheckpoint()
    val contPairs = Dedup.containmentDupPairsRun(survivorSh,
      containThreshold).pairs
    val contLosers = Dedup.containmentLosers(contPairs)
      .select(col("loser").as("doc_id"), lit(true).as("cont_loser"))
    // decontamination runs over the stage-4 survivors (train side —
    // never shuffled; the eval side broadcasts, size-gated)
    val contamLosers = evalDocs match {
      case None => None
      case Some(ev) =>
        val s4 = base.select("doc_id", "text")
          .join(survivorSh.select(col("id").as("doc_id")), Seq("doc_id"),
            "left_semi")
          .join(contLosers.select("doc_id"), Seq("doc_id"), "left_anti")
        Some(Dedup.crossCorpusDupPairs(
            s4, ev.select(col(evalIdCol).as("doc_id"),
              col(evalTextCol).as("text")),
            "doc_id", "text", decontaminationThreshold)
          .select(col("train_id").as("doc_id")).distinct()
          .withColumn("contam_loser", lit(true)))
    }
    val withLosers = base
      .join(nearLosers, Seq("doc_id"), "left")
      .join(contLosers, Seq("doc_id"), "left")
    val full = contamLosers match {
      case None => withLosers.withColumn("contam_loser", lit(false))
      case Some(cl) => withLosers.join(cl, Seq("doc_id"), "left")
    }
    full
      .select(col("doc_id"),
        when(!col("lang_ok"), "lang")
          .when(!col("quality_ok"), "quality")
          .when(col("near_loser"), "near_dup")
          .when(col("cont_loser"), "contained")
          .when(col("contam_loser"), "contaminated")
          .as("reason"))
      .withColumn("keep", col("reason").isNull)
  }

  /** The curated corpus: [[curationReport]]'s keepers joined back to
    * the input rows (all original columns). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      langs: Seq[String] = Seq("en"), minQuality: Double = 0.5,
      nearThreshold: Double = 0.8,
      containThreshold: Double = 0.9,
      evalDocs: Option[DataFrame] = None,
      evalIdCol: String = "doc_id", evalTextCol: String = "text",
      decontaminationThreshold: Double = 0.8): DataFrame = {
    val keepers = curationReport(docs, idCol, textCol, langs, minQuality,
      nearThreshold, containThreshold, evalDocs, evalIdCol, evalTextCol,
      decontaminationThreshold)
      .where(col("keep")).select(col("doc_id").as("graft_keep_id"))
    docs.join(keepers, docs(idCol) === col("graft_keep_id"), "left_semi")
  }
}
