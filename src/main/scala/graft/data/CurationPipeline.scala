package graft.data

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline as a FIRST-CLASS API —
  * the chain a library user actually deploys end to end:
  *
  *   quality filter (x16) → exact-dedup keeper selection (d1) →
  *   semantic dedup (d12, embedding-space SemDeDup) →
  *   benchmark decontamination (x12) → per-source token-budget cap
  *   (x35, seeded order) → seeded shuffle-shard export (x34) →
  *   shard-partitioned parquet write.
  *
  * Every stage is individually oracle-checked in the registry; this
  * object owns the COMPOSITION, which until r11 lived copy-pasted in
  * `CurationPipelineSpec` and a scale harness (exactly the drift
  * hazard a user-facing chain must not have). Composition contracts,
  * spec-pinned: stages connect on `doc_id` without schema friction, a
  * doc with no embedding row passes SemDeDup through (curation must
  * not silently drop data a side table lacks coverage for), exported
  * shards hold contiguous positions 0..n−1 with nothing lost or
  * duplicated, and a re-run writes byte-identical shard content — what
  * makes a 100 TB export resumable and auditable. Every stage is
  * pay-once via [[SharedFrames]] memos, so the chain's cost is the sum
  * of its stages, not the product of its recomputations.
  */
object CurationPipeline {

  /** Pipeline knobs. `budgetTokens` is the per-source token cap (x35);
    * `semDedupMaxIter` bounds the SemDeDup centroid iterations (d12's
    * convergence cap); `seed` drives BOTH the budget-cap admission
    * order and the shard permutation, so one seed reproduces the whole
    * export bit-for-bit at any cluster size. */
  final case class Config(
      budgetTokens: Long,
      nShards: Int = 32,
      seed: String = "graft",
      semDedupMaxIter: Int = 24,
      resample: Boolean = false)

  /** The staged chain as (stage name, surviving-corpus frame) pairs,
    * cumulative — each frame filters the previous one. Exposed
    * separately from [[run]] so audits can execute and plan-walk each
    * stage; `stages(...).last._2` is the clean corpus [[run]] exports.
    * Pass `embeddings = None` to skip SemDeDup (a text-only corpus). */
  def stages(docs: DataFrame, embeddings: Option[DataFrame],
      cfg: Config): Seq[(String, DataFrame)] = {
    val kept = docs.join(
      TextOps.filterFlags(docs).filter(col("keep")).select("doc_id"), "doc_id")
    val deduped = kept.join(
      TextOps.dedupExact(kept).select(col("keeper").as("doc_id")), "doc_id")
    val sem = embeddings match {
      case Some(emb) => deduped.join(
          VectorOps.semDedup(emb, maxIter = cfg.semDedupMaxIter)
            .select(col("vec_id").as("doc_id"), col("keep").as("sem_keep")),
          Seq("doc_id"), "left")
        .filter(coalesce(col("sem_keep"), lit(true)))
        .drop("sem_keep")
      case None => deduped
    }
    // The benchmark side derives from the PIPELINE INPUT corpus, not the
    // already-filtered survivors (ADVICE r11, medium): a benchmark doc
    // dropped by the quality or dedup gates must still contaminate —
    // deriving the bench set from `sem` would silently un-bench it, and
    // the batch chain would diverge from the streaming twin
    // (curationAdmissionStream builds its literal gate from the full
    // corpus via benchmarkShingleHashes(docs)).
    val decon = sem.join(
      TextOps.decontaminateAgainst(sem, docs).filter(!col("is_contaminated"))
        .select("doc_id"), "doc_id")
    // optional: DSIR importance resampling (x50) between decontamination
    // and the budget cap — thins toward the target distribution so the
    // seeded budget order spends its cap on importance-accepted docs.
    // The importance model trains on the PIPELINE INPUT corpus (the
    // distribution the weights are supposed to correct), not on the
    // already-filtered survivors: re-fitting on a subset the quality
    // gate made target-like collapses every weight toward 1 and the
    // resample becomes a no-op.
    val res = if (cfg.resample)
      decon.join(
        TextOps.importanceResample(docs, seed = cfg.seed)
          .filter(col("accept")).select("doc_id"), "doc_id")
    else decon
    val clean = res.join(
      TextOps.budgetCap(res, budgetTokens = cfg.budgetTokens,
          seed = cfg.seed)
        .filter(col("keep")).select("doc_id"), "doc_id")
    Seq("filter" -> kept, "dedup_exact" -> deduped, "semdedup" -> sem,
      "decontaminate" -> decon) ++
      (if (cfg.resample) Seq("importance_resample" -> res) else Nil) ++
      Seq("budget_cap" -> clean)
  }

  /** What [[run]] reports: input/output row counts plus the surviving
    * count after each stage, in order — the data-card funnel of this
    * export. `exported` is re-counted from the WRITTEN files, so a
    * lossy write surfaces here; `manifestVerified` recomputes the x44
    * order-sensitive per-shard checksum from the read-back and compares
    * it against the manifest written alongside the export, so a
    * substituted or re-ordered shard member — which a count passes —
    * surfaces here too, not in a trainer. */
  final case class Report(total: Long, exported: Long,
      stageCounts: Seq[(String, Long)], manifestVerified: Boolean)

  /** Where [[run]] writes the x44 manifest for an export at `outDir`. */
  def manifestDir(outDir: String): String = outDir + "_manifest"

  /** Re-derive the x44 manifest from the WRITTEN shard files (joined back
    * to the corpus for the member fingerprints) and compare it row-for-row
    * against the manifest stored at [[manifestDir]]. True iff every shard's
    * (n_docs, max_pos, n_tokens, checksum) matches — the integrity check a
    * trainer runs before an epoch. Exposed separately from [[run]] so an
    * export can be re-verified later (and so the spec can tamper with a
    * shard and watch it fail). */
  def verifyExport(docs: DataFrame, outDir: String): Boolean = {
    val spark = docs.sparkSession
    // the shard partition column reads back as INT (partition-value
    // inference); normalize to the manifest's BIGINT before comparing
    val back = spark.read.parquet(outDir)
      .withColumn("shard", col("shard").cast("long"))
    val actual = TextOps.manifestOf(back, docs)
    val expected = spark.read.parquet(manifestDir(outDir))
    expected.count() == actual.count() &&
      expected.except(actual).isEmpty && actual.except(expected).isEmpty
  }

  /** Execute the full chain and write the shard-partitioned export to
    * `outDir` (overwrite), plus its x44 manifest at [[manifestDir]].
    * Deterministic for a fixed (corpus, config): re-running writes
    * byte-identical shard content. Each stage frame is persisted before
    * the report counts it — the cumulative chain would otherwise
    * re-execute its upstream joins once per stage count, costing
    * O(stages²) recomputation (ADVICE r11). */
  def run(docs: DataFrame, embeddings: Option[DataFrame], cfg: Config,
      outDir: String): Report = {
    val st = stages(docs, embeddings, cfg)
    st.foreach(_._2.persist())
    try {
      val clean = st.last._2
      val export = TextOps.shardExport(clean, nShards = cfg.nShards,
        seed = cfg.seed)
      export.write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(outDir)
      TextOps.manifestOf(export, clean)
        .write.mode(SaveMode.Overwrite).parquet(manifestDir(outDir))
      val exported = docs.sparkSession.read.parquet(outDir).count()
      Report(docs.count(), exported, st.map { case (n, f) => (n, f.count()) },
        manifestVerified = verifyExport(clean, outDir))
    } finally st.foreach(_._2.unpersist())
  }
}
