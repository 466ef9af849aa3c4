package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** `stable dt :state` as a [[Step]] (reference streams.clj:1936-2030) —
  * the full probation-buffer semantics: when a key's state changes,
  * subsequent events are BUFFERED (list state); once the value has
  * persisted dt seconds — proven either by a later event or by the
  * watermark passing a per-key timer — the whole buffer flushes and
  * further same-value events stream through. A flap before dt discards
  * the buffer (those events are never delivered).
  *
  * Delivery-time stamping (divergence, mirroring the reaper's
  * `time = now`): flushed buffer events carry the proof moment as their
  * event time — the confirming event's time, or the timer's watermark.
  * Append-mode event-time operators drop output rows behind the
  * watermark, so emitting the ORIGINAL (by then > dt old) timestamps
  * would silently lose the buffer. The default watermark delay equals
  * the probation window for the same reason. */
object StreamingStable {
  def apply(events: Dataset[WireEvent], dtSeconds: Long,
      watermarkDelay: String = null): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val delay = Option(watermarkDelay).getOrElse(s"$dtSeconds seconds")
    KeyedProcessor(events, delay, step(dtSeconds))(e => (e.host, e.service))
  }

  /** (current value, probation start ms, confirmed stable) */
  private type Cur = (String, Long, Boolean)

  /** State: the key's [[Cur]]; buffer: the probation events. The timer
    * is armed only while the value is on probation. */
  private def step(dtSeconds: Long)
      : Step[(String, String), WireEvent, Cur, WireEvent, WireEvent] =
      new Step[(String, String), WireEvent, Cur, WireEvent, WireEvent] {
    private val dtMs = dtSeconds * 1000

    def state: (String, Encoder[Cur]) = ("cur", Encoders.product[Cur])
    override def buffer: Option[(String, Encoder[WireEvent])] =
      Some(("buf", Encoders.product[WireEvent]))
    def order: Ordering[WireEvent] = Ordering.by(_.time.getTime)

    private def flush(buf: Buffer[WireEvent], stampMs: Long): Seq[WireEvent] =
      buf.all.map(_.copy(time = new java.sql.Timestamp(stampMs)))

    def rows(key: (String, String), at: Keyed[Cur, WireEvent],
        rows: Seq[WireEvent], wm: Long): (Keyed[Cur, WireEvent], Seq[WireEvent]) = {
      val out = Vector.newBuilder[WireEvent]
      val next = rows.foldLeft(at) { (at, e) =>
        val t = e.time.getTime
        at.state match {
          case Some((v, since, confirmed))
              if java.util.Objects.equals(v, e.state) =>
            if (confirmed) { out += e; at }
            else if (t - since >= dtMs) {
              // value persisted dt: deliver the probation buffer + this,
              // stamped at the proving event's time; the probation timer
              // has nothing left to do
              out ++= flush(at.buffer, t)
              out += e
              Keyed(Some((v, since, true)), at.buffer.cleared, None)
            } else at.copy(buffer = at.buffer :+ e)
          case _ =>
            // flap (or first event): discard any probation buffer
            Keyed(Some((e.state, t, false)), at.buffer.cleared :+ e,
              Some(math.max(t + dtMs, wm + 1)))
        }
      }
      (next, out.result())
    }

    /** Probation passed without a flap: the buffer flushes, stamped at
      * the watermark. */
    def timer(key: (String, String), at: Keyed[Cur, WireEvent],
        wm: Long): (Keyed[Cur, WireEvent], Seq[WireEvent]) =
      (at.copy(state = at.state.map(_.copy(_3 = true)),
        buffer = at.buffer.cleared), flush(at.buffer, wm))
  }
}
