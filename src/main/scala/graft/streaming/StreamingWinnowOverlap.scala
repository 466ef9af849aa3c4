package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** A (fingerprint, document) arrival: one winnowed fingerprint of one
  * ingested doc. */
private[streaming] case class FpDoc(fp: Long, doc_id: Long,
    time: java.sql.Timestamp)

/** A fingerprint bucket's member in streaming state. */
case class FpMember(doc_id: Long, tMs: Long)

/** One piece of shared-fingerprint evidence: docs `doc_a` < `doc_b`
  * share winnowed fingerprint `fp`. `time` is the arriving doc's event
  * time so the downstream pair count can watermark on it. */
case class WinnowShared(doc_a: Long, doc_b: Long, fp: Long,
    time: java.sql.Timestamp)

/** Streaming winnowing span-overlap — the incremental form of
  * [[graft.pipeline.Dedup.winnowOverlapPairs]] (Schleimer et al. 2003):
  * keyed by fingerprint, each arriving doc emits one evidence row per
  * LIVE bucket member sharing the fingerprint; counting evidence per
  * (doc_a, doc_b) to `minShared` happens downstream ([[pairs]]).
  * Horizon eviction, hot-fp saturation, and the timer discipline are
  * the shared [[SaturatingBucket]] step — a boilerplate fingerprint
  * (page template, license header) saturates rather than flooding
  * O(bucket²) pairs. */
object StreamingWinnowOverlap {

  /** The per-fingerprint pairing step. */
  private def step(horizonMs: Long, maxBucket: Int)
      : SaturatingBucket[Long, FpDoc, FpMember, WinnowShared] =
    new SaturatingBucket(horizonMs, maxBucket, Encoders.product[FpMember],
      (d: FpDoc) => FpMember(d.doc_id, d.time.getTime),
      (m: FpMember) => m.tMs, (m: FpMember) => m.doc_id,
      (fp: Long, m: FpMember, d: FpDoc) =>
        WinnowShared(math.min(m.doc_id, d.doc_id),
          math.max(m.doc_id, d.doc_id), fp, d.time))

  /** Wire a doc stream (doc_id, text, `eventTimeCol` timestamp) through
    * the winnow kernel → fingerprint explode → the per-fp step.
    * The fingerprints are the BATCH [[graft.pipeline.WinnowExpr]]
    * kernel's, so the evidence this stream emits is exactly the
    * within-fp pairing the batch `winnowOverlapPairs` counts on the
    * same horizon's corpus (StreamingWinnowOverlapSpec pins the
    * parity). */
  def apply(docs: DataFrame, eventTimeCol: String,
      horizonSeconds: Long = 3600L, k: Int = 20, w: Int = 8,
      maxBucket: Int = graft.pipeline.Dedup.WinnowMaxFpDocs)
      : Dataset[WinnowShared] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val fps = ColumnBridge.column(graft.pipeline.WinnowExpr(
      ColumnBridge.expression(col("text")), k, w))
    val fpd = docs
      .select(col("doc_id"), fps.as("fps"), col(eventTimeCol).as("time"))
      .select(explode(col("fps")).as("fp"), col("doc_id"), col("time"))
      .as[FpDoc]
    // the output declares its event-time column, so the downstream
    // [[pairs]] aggregation can chain as a second stateful operator
    KeyedProcessor(fpd, s"$horizonSeconds seconds",
      step(horizonSeconds * 1000L, maxBucket), Some("time"))(_.fp)
  }

  /** Overlap pairs from the evidence stream: count shared fingerprints
    * per (doc_a, doc_b) inside `horizonSeconds` event-time windows and
    * keep pairs sharing at least `minShared` — the batch query's
    * `shared >= minShared` filter as a downstream windowed aggregation
    * (fingerprints are distinct per doc, so a plain count IS the
    * distinct-fp count). */
  def pairs(evidence: Dataset[WinnowShared], horizonSeconds: Long = 3600L,
      minShared: Int = 3): DataFrame =
    // no withWatermark here: the upstream watermark propagates through
    // transformWithState, and redefining it on a chained stateful
    // operator is disallowed
    evidence
      .groupBy(window(col("time"), s"$horizonSeconds seconds"),
        col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("shared"))
}
