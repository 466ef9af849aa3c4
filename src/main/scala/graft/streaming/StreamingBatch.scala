package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** `batch n dt` as a [[Step]] (reference streams.clj:1158-1185) —
  * accumulate events and deliver them as one vector when EITHER the
  * buffer reaches n events (flushed inline, stamped at the triggering
  * event's time) OR dt seconds pass after the first buffered event
  * (flushed by the per-key timer, stamped at the watermark). The
  * streaming front-end for bulk sinks: elasticsearch bulk POSTs, kafka
  * producer batching, webhook digests.
  */
object StreamingBatch {
  /** One delivered batch: ≤ n events. The dt bound is first-buffered
    * event to deadline; an out-of-order arrival that is still inside
    * the watermark joins the open batch, so the EVENT-time span can
    * stretch up to dt + the watermark delay. */
  case class Flush(key: String, events: Seq[WireEvent], by_timer: Boolean,
      emitted_at: java.sql.Timestamp)

  def apply(events: Dataset[WireEvent], n: Int, dtSeconds: Long,
      scope: WireEvent => String = _.service,
      watermarkDelay: String = null): Dataset[Flush] = {
    val spark = events.sparkSession
    import spark.implicits._
    val delay = Option(watermarkDelay).getOrElse(s"$dtSeconds seconds")
    KeyedProcessor(events, delay, step(n, dtSeconds))(scope)
  }

  /** State: the open batch's event count; buffer: its events; deadline:
    * its dt timer, armed by its first event. */
  private def step(n: Int, dtSeconds: Long)
      : Step[String, WireEvent, Int, WireEvent, Flush] =
      new Step[String, WireEvent, Int, WireEvent, Flush] {
    private val dtMs = dtSeconds * 1000

    def state: (String, Encoder[Int]) = ("count", Encoders.scalaInt)
    override def buffer: Option[(String, Encoder[WireEvent])] =
      Some(("buf", Encoders.product[WireEvent]))
    def order: Ordering[WireEvent] = Ordering.by(_.time.getTime)

    /** Deliver the buffer and close the batch: a size flush also retires
      * the batch's dt timer. */
    private def flush(key: String, at: Keyed[Int, WireEvent], stampMs: Long,
        byTimer: Boolean): (Keyed[Int, WireEvent], Flush) = {
      val events = at.buffer.all
      // stamp at the batch's max event time (a late-but-on-time arrival
      // can be buffered after a newer one) or the timer's watermark
      val stamp = new java.sql.Timestamp(
        (stampMs +: events.map(_.time.getTime)).max)
      (Keyed(None, at.buffer.cleared, None),
        Flush(key, events, byTimer, stamp))
    }

    def rows(key: String, at: Keyed[Int, WireEvent], rows: Seq[WireEvent],
        wm: Long): (Keyed[Int, WireEvent], Seq[Flush]) = {
      val out = Vector.newBuilder[Flush]
      val next = rows.foldLeft(at) { (at, e) =>
        val t = e.time.getTime
        val c = at.state.getOrElse(0) + 1
        val open = Keyed(Some(c), at.buffer :+ e,
          at.deadline.orElse(Some(math.max(t + dtMs, wm + 1))))
        if (c < n) open
        else {
          val (closed, f) = flush(key, open, t, byTimer = false)
          out += f
          closed
        }
      }
      (next, out.result())
    }

    def timer(key: String, at: Keyed[Int, WireEvent],
        wm: Long): (Keyed[Int, WireEvent], Seq[Flush]) = {
      val (closed, f) = flush(key, at, wm, byTimer = true)
      (closed, Seq(f))
    }
  }
}
