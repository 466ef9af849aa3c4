package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One LSH bucket's member in streaming state: (doc, signature,
  * event-time ms). */
case class BucketMember(doc_id: Long, sig: Seq[Long], tMs: Long)

/** An emitted near-dup candidate pair. `time` is the arriving doc's
  * event time so downstream event-time operators (cross-band pair
  * dedup, windowed aggregation) can watermark on it. The same pair may
  * surface from several colliding bands with the identical
  * `est_jaccard` — band is carried so callers can either
  * `dropDuplicatesWithinWatermark(doc_a, doc_b)` or keep the
  * per-band evidence. */
case class NearDupPair(doc_a: Long, doc_b: Long, est_jaccard: Double,
    band: Int, bucket: String, time: java.sql.Timestamp)

private[streaming] case class BandedDoc(band: Int, bucket: String,
    doc_id: Long, sig: Seq[Long], time: java.sql.Timestamp)

/** Streaming MinHash-LSH near-duplicate detection — the incremental
  * form of [[graft.pipeline.Dedup.minhashPairs]] for a continuously
  * ingested corpus (complementing `Dedup.streamingExact`, which only
  * catches byte-identical docs). Keyed by (band, bucket): each arriving
  * doc is compared against the bucket's LIVE members only (signature
  * agreement = the batch path's est_jaccard), then joins the state.
  * Horizon eviction, saturation, and the timer discipline live in
  * [[SaturatingBucket]]. */
object StreamingNearDup {

  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    if (a.isEmpty) 0.0
    else a.iterator.zip(b.iterator).count { case (x, y) => x == y }
      .toDouble / a.size

  /** The per-(band, bucket) pairing step. */
  private def step(horizonMs: Long, maxBucket: Int)
      : SaturatingBucket[(Int, String), BandedDoc, BucketMember, NearDupPair] =
    new SaturatingBucket(horizonMs, maxBucket, Encoders.product[BucketMember],
      (d: BandedDoc) => BucketMember(d.doc_id, d.sig, d.time.getTime),
      (m: BucketMember) => m.tMs, (m: BucketMember) => m.doc_id,
      (key: (Int, String), m: BucketMember, d: BandedDoc) =>
        NearDupPair(math.min(m.doc_id, d.doc_id), math.max(m.doc_id, d.doc_id),
          estJaccard(m.sig, d.sig), key._1, key._2, d.time))

  /** Wire a doc stream (doc_id, text, `eventTimeCol` timestamp) through
    * signature → banding → the per-bucket step. The signature and
    * band/bucket derivation reuse the BATCH kernels and expressions
    * ([[graft.pipeline.MinhashSigExpr]]/[[graft.pipeline.ShinglesExpr]]
    * and `Dedup.lshBands`' banding SQL), so a pair this stream emits is
    * exactly a pair the batch `minhashPairs` would find on the same
    * horizon's corpus (PipelineSpec pins the parity). `threshold`
    * filters on signature agreement like the batch path. */
  def apply(docs: DataFrame, eventTimeCol: String,
      horizonSeconds: Long = 3600L, k: Int = 16, bands: Int = 4,
      w: Int = 3, threshold: Double = 0.5,
      maxBucket: Int = graft.pipeline.Caps.DefaultMaxBucket)
      : Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val sig = ColumnBridge.column(graft.pipeline.MinhashSigExpr(
      ColumnBridge.expression(ColumnBridge.column(
        graft.pipeline.ShinglesExpr(
          ColumnBridge.expression(col("text")), w))), k))
    val sigd = docs
      .select(col("doc_id"), sig.as("sig"), col(eventTimeCol).as("time"))
      .select(col("doc_id"), col("sig"), col("time"),
        graft.pipeline.Dedup.bandExplodeExpr(k, bands).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"), col("time"))
      .as[BandedDoc]
    KeyedProcessor(sigd, s"$horizonSeconds seconds",
        step(horizonSeconds * 1000L, maxBucket))(b => (b.band, b.bucket))
      .filter(_.est_jaccard >= threshold)
  }
}
