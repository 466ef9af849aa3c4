package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming cross-corpus near-dup detection — the firehose face of
  * [[graft.pipeline.Dedup.crossCorpusNearDupsAgainstBanded]]: flag
  * arriving documents that near-duplicate a STATIC reference corpus
  * (the "don't re-ingest what the training set already holds" /
  * benchmark-decontamination filter, run continuously).
  *
  * STATELESS by design, unlike the stateful within-stream family
  * ([[StreamingNearDup]] et al.): the reference is fixed for the run,
  * so no per-bucket state, watermark, or timers are needed — the
  * stream side derives signature + bands as a narrow kernel map (the
  * SAME [[graft.pipeline.MinhashSigExpr]]/[[graft.pipeline.ShinglesExpr]]
  * the batch path uses), then each micro-batch stream-static
  * equi-joins the precomputed reference banded relation on
  * (band, bucket). Restart-safe for free (no state store), and
  * per-doc output fan-out is bounded by bands × the reference-side
  * hot-bucket cap (the ref relation arrives already capped from
  * `Caps.cap`; the batch path's new-side cap is a pair-explosion
  * guard the one-doc-at-a-time stream shape cannot trigger).
  *
  * Scale shape: at 100 TB the reference banded relation is a bucketed
  * table on (band, bucket) refreshed on corpus releases; each
  * micro-batch hash-joins against it without reshuffling the
  * reference, and swapping the ref under a restart is a config
  * change, not a state migration.
  *
  * Output: (new_id, ref_id, est_jaccard ≥ threshold, band, time). The
  * same pair may surface from several colliding bands (band evidence
  * carried, like the stateful family); callers wanting one row per
  * pair add `dropDuplicatesWithinWatermark("new_id", "ref_id")`.
  *
  * PERSIST the [[referenceBanded]] relation before streaming with it:
  * Spark re-executes the static subtree of a stream-static join in
  * every micro-batch, which here means re-shingling + re-banding the
  * WHOLE reference corpus per trigger. The config surface persists it
  * automatically ([[graft.config.ConfigFile]] `cachedStatic` — 2.5 s →
  * 0.5 s per batch at a 50 K-doc reference in the r18 A/B,
  * `Bench static-cache`); direct callers should `.persist()` it. */
object StreamingCrossCorpus {

  def matches(docs: DataFrame, refBanded: DataFrame,
      eventTimeCol: String, k: Int = 16, bands: Int = 4, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.pipeline.Dedup
    val sig = ColumnBridge.column(graft.pipeline.MinhashSigExpr(
      ColumnBridge.expression(ColumnBridge.column(
        graft.pipeline.ShinglesExpr(
          ColumnBridge.expression(col("text")), w))), k))
    // banding through Dedup's single shared formula keeps the stream
    // side join-compatible with the lshBands-built reference relation
    val banded = docs
      .select(col("doc_id"), sig.as("sig"), col(eventTimeCol).as("time"))
      .select(col("doc_id"), col("sig"), col("time"),
        Dedup.bandExplodeExpr(k, bands).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"), col("time"))
    banded.as("n").join(refBanded.as("r"),
        col("n.band") === col("r.band") &&
          col("n.bucket") === col("r.bucket"))
      .select(col("n.doc_id").as("new_id"), col("r.doc_id").as("ref_id"),
        Dedup.sigAgreement("n.sig", "r.sig", k).as("est_jaccard"),
        col("n.band").as("band"), col("n.time").as("time"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Build the static reference side once per corpus release: the
    * batch path's capped banded relation (doc_id, sig, band, bucket). */
  def referenceBanded(refDocs: DataFrame, k: Int = 16, bands: Int = 4,
      w: Int = 3,
      maxBucket: Int = graft.pipeline.Caps.DefaultMaxBucket): DataFrame =
    graft.pipeline.Dedup.bandedReference(refDocs, k, bands, w, maxBucket)
}
