package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.pipeline.{Caps, Similarity}

/** A banded-hyperplane bucket arrival: one band's bucket of one
  * ingested embedding (unit-normalized). */
private[streaming] case class EmbBandedDoc(band: Int, bucket: Long,
    vec_id: Long, unit: Seq[Double], time: java.sql.Timestamp)

/** An embedding bucket's member in streaming state. */
case class EmbMember(vec_id: Long, unit: Seq[Double], tMs: Long)

/** An emitted embedding near-dup pair with its exact cosine (the
  * batch path's scaled-long arithmetic, so streamed values equal
  * `Dedup.embeddingNearDups`' on the same corpus). The same pair may
  * surface from several colliding bands with the identical cosine —
  * callers dedup like the batch `.distinct()` or keep band evidence. */
case class EmbNearDupPair(vec_a: Long, vec_b: Long, cosine: Double,
    band: Int, bucket: Long, time: java.sql.Timestamp)

/** Streaming embedding near-duplicate detection — the incremental form
  * of [[graft.pipeline.Dedup.embeddingNearDups]], completing the
  * streaming dedup family (exact / minhash-LSH / winnow / embedding)
  * on the shared [[SaturatingBucket]] step: keyed by (band, hyperplane
  * bucket), each arriving vector is cosine-scored against the bucket's
  * LIVE members only; horizon eviction and whole-bucket saturation
  * bound state and fan-out exactly like the batch Caps rule. */
object StreamingEmbeddingNearDup {

  /** The batch pipeline's exact cosine: Σ floor(aᵢ·bᵢ·1e16) as a long,
    * /1e16, rounded half-up to 6 — bit-identical to
    * `round(Similarity.dotExact(a, b), 6)`. */
  private def cosineExact(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0L
    var i = 0
    val n = math.min(a.size, b.size)
    while (i < n) {
      acc += math.floor(a(i) * b(i) * 1e16).toLong
      i += 1
    }
    BigDecimal(acc.toDouble / 1e16)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The per-(band, bucket) pairing step. */
  private def step(horizonMs: Long, maxBucket: Int)
      : SaturatingBucket[(Int, Long), EmbBandedDoc, EmbMember, EmbNearDupPair] =
    new SaturatingBucket(horizonMs, maxBucket, Encoders.product[EmbMember],
      (d: EmbBandedDoc) => EmbMember(d.vec_id, d.unit, d.time.getTime),
      (m: EmbMember) => m.tMs, (m: EmbMember) => m.vec_id,
      (key: (Int, Long), m: EmbMember, d: EmbBandedDoc) =>
        EmbNearDupPair(math.min(m.vec_id, d.vec_id),
          math.max(m.vec_id, d.vec_id), cosineExact(m.unit, d.unit),
          key._1, key._2, d.time))

  /** Wire an embedding stream (vec_id, embedding array<float>,
    * `eventTimeCol` timestamp) through the BATCH banding expressions
    * (raw-vector hyperplane sign buckets per band — scale-invariant,
    * exactly `Similarity.bandedCandUnits`' derivation) into the
    * per-bucket step. `threshold` filters on the exact cosine
    * like the batch path. */
  def apply(embeddings: DataFrame, eventTimeCol: String,
      horizonSeconds: Long = 3600L, threshold: Double = 0.4,
      bands: Int = 4, planesPerBand: Int = 6, dims: Int = 64,
      maxBucket: Int = Caps.DefaultMaxBucket): Dataset[EmbNearDupPair] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dv = transform(col("embedding"), x => x.cast("double"))
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        Similarity.bucketExpr(dv, planesPerBand, dims,
          b * planesPerBand).as("bucket"))
    }: _*)
    val banded = embeddings
      .select(col("vec_id"),
        Similarity.normalized(col("embedding")).as("unit"),
        col(eventTimeCol).as("time"), explode(bandCols).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("vec_id"), col("unit"), col("time"))
      .as[EmbBandedDoc]
    KeyedProcessor(banded, s"$horizonSeconds seconds",
        step(horizonSeconds * 1000L, maxBucket))(b => (b.band, b.bucket))
      .filter(_.cosine >= threshold)
  }
}
