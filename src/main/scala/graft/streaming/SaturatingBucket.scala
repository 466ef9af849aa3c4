package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}

/** The [[Step]] of the streaming bucket-bounded pairing family
  * ([[StreamingNearDup]], [[StreamingWinnowOverlap]],
  * [[StreamingEmbeddingNearDup]]): per-key member state where an
  * arriving row pairs against the bucket's LIVE members only, with the
  * scale posture of the batch [[graft.pipeline.Caps]] rule
  * transplanted to streams:
  *
  *  - state per key is bounded twice over: members older than
  *    `horizonMs` behind the watermark are evicted (event-time bound),
  *    and a bucket exceeding `maxBucket` live members SATURATES —
  *    state clears, nothing more is emitted for that key until the
  *    bucket has been quiet for a full horizon (drop-whole-buckets: a
  *    boilerplate bucket must not cost O(bucket²) emissions, and a
  *    *partial* bucket would silently under-report);
  *  - comparisons are within-bucket only — never an all-pairs scan.
  *
  * Timers: one live timer per key, one horizon past the newest member
  * (or, saturated, past the newest swallowed row); when it fires every
  * member is eviction-due and a saturated bucket has been quiet, so the
  * key's state clears entirely — a quiet bucket costs nothing forever
  * after.
  *
  * Cap-boundary divergence from batch `Caps.cap` (by construction):
  * batch sees the whole bucket before pairing, so an over-cap bucket
  * contributes ZERO pairs; the streaming kernel cannot know a bucket
  * will later exceed the cap, so by the time the (maxBucket+1)-th
  * member arrives it has already emitted all pairs among the first
  * maxBucket members — and append-mode output cannot retract them.
  * Batch/stream parity therefore holds exactly for every bucket that
  * never reaches the cap, and the parity specs
  * (StreamingWinnowOverlapSpec / StreamingEmbeddingNearDupSpec /
  * StreamingNearDupSpec) pin that regime; at the boundary the stream
  * over-reports relative to batch by at most the pre-saturation
  * pairs of that one bucket.
  *
  * `member` is the state payload an arriving row leaves behind, `time`
  * a member's event time (ms), `id` its document, and `pair` the
  * emission for (key, live member, arriving row). State: the time the
  * bucket saturated at (the quiet-period clock); buffer: the members. */
final class SaturatingBucket[K, In, M, Out](horizonMs: Long, maxBucket: Int,
    memberEncoder: Encoder[M], member: In => M, time: M => Long, id: M => Long,
    pair: (K, M, In) => Out) extends Step[K, In, Long, M, Out] {

  def state: (String, Encoder[Long]) = ("saturatedAt", Encoders.scalaLong)
  override def buffer: Option[(String, Encoder[M])] =
    Some(("members", memberEncoder))
  def order: Ordering[In] = Ordering.by(d => time(member(d)))

  def rows(key: K, at: Keyed[Long, M], rows: Seq[In],
      wm: Long): (Keyed[Long, M], Seq[Out]) = {
    val out = Vector.newBuilder[Out]
    val next = rows.foldLeft(at) { (at, d) =>
      val m = member(d)
      val t = time(m)
      at.state match {
        case Some(saturatedAt) =>
          // saturated bucket: swallow, and extend the quiet-period clock
          val quiet = math.max(saturatedAt, t)
          at.copy(state = Some(quiet),
            deadline = Some(math.max(quiet + horizonMs + 1, wm + 1)))
        case None =>
          // evict members the watermark has aged out of the horizon
          val all = at.buffer.all
          val live = all.filter(x => time(x) + horizonMs >= wm)
          if (live.size >= maxBucket)
            // over-full: drop the WHOLE bucket (partial pairing would
            // silently under-report; mirrors Caps.cap's semantics)
            Keyed(Some(t), at.buffer.cleared,
              Some(math.max(t + horizonMs + 1, wm + 1)))
          else {
            for (x <- live if id(x) != id(m)) out += pair(key, x, d)
            val kept =
              if (live.size == all.size) at.buffer else at.buffer.cleared ++ live
            Keyed(None, kept :+ m, Some(math.max(
              math.max(t, live.map(time).maxOption.getOrElse(0L)) +
                horizonMs + 1, wm + 1)))
          }
      }
    }
    (next, out.result())
  }

  def timer(key: K, at: Keyed[Long, M], wm: Long): (Keyed[Long, M], Seq[Out]) =
    (Keyed(None, at.buffer.cleared, None), Nil)
}
