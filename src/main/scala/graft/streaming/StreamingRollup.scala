package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** `rollup n dt` as a [[Step]] (reference streams.clj:1120-1156) — the
  * alert de-spamming combinator: per key and per dt period, the first n
  * events pass through immediately; the overflow is buffered, and when
  * the period's timer fires the whole buffer is delivered as ONE vector
  * emission (riemann sends the children a vector of events; here the
  * emission row carries the buffered events as a sequence).
  *
  * Periods are first-event-anchored: the first event after an idle or
  * closed period opens a new period at its event time and arms a timer
  * at period-start + dt. Buffered events are stamped at the timer's
  * watermark when flushed (the reaper's `time = now` pattern —
  * append-mode event-time operators drop output rows behind the
  * watermark, so original timestamps would silently lose the buffer).
  */
object StreamingRollup {
  /** One rollup delivery: a pass-through event (`rolled = false`, one
    * element) or the period-end buffered vector (`rolled = true`). */
  case class Emission(key: String, events: Seq[WireEvent], rolled: Boolean,
      emitted_at: java.sql.Timestamp)

  /** Key the rollup by `scope` (riemann composes `(by [:service] (rollup
    * ...))`; service is the usual alerting scope). Watermark delay
    * defaults to the period so late stragglers still buffer. */
  def apply(events: Dataset[WireEvent], n: Int, dtSeconds: Long,
      scope: WireEvent => String = _.service,
      watermarkDelay: String = null): Dataset[Emission] = {
    val spark = events.sparkSession
    import spark.implicits._
    val delay = Option(watermarkDelay).getOrElse(s"$dtSeconds seconds")
    KeyedProcessor(events, delay, step(n, dtSeconds))(scope)
  }

  /** State: (period start ms, events passed this period); buffer: the
    * period's overflow, only ever appended to until it is delivered. */
  private def step(n: Int, dtSeconds: Long)
      : Step[String, WireEvent, (Long, Int), WireEvent, Emission] =
      new Step[String, WireEvent, (Long, Int), WireEvent, Emission] {
    private val dtMs = dtSeconds * 1000

    def state: (String, Encoder[(Long, Int)]) =
      ("period", Encoders.product[(Long, Int)])
    override def buffer: Option[(String, Encoder[WireEvent])] =
      Some(("buf", Encoders.product[WireEvent]))
    def order: Ordering[WireEvent] = Ordering.by(_.time.getTime)

    private def drain(key: String, buf: Buffer[WireEvent],
        stampMs: Long): Option[Emission] = {
      val rolled = buf.all
      if (rolled.isEmpty) None
      else {
        val stamp = new java.sql.Timestamp(stampMs)
        Some(Emission(key, rolled.map(_.copy(time = stamp)), rolled = true,
          stamp))
      }
    }

    def rows(key: String, at: Keyed[(Long, Int), WireEvent],
        rows: Seq[WireEvent], wm: Long): (Keyed[(Long, Int), WireEvent], Seq[Emission]) = {
      val out = Vector.newBuilder[Emission]
      val next = rows.foldLeft(at) { (at, e) =>
        val t = e.time.getTime
        at.state match {
          case Some((start, passed)) if t < start + dtMs =>
            if (passed < n) {
              out += Emission(key, Seq(e), rolled = false, e.time)
              at.copy(state = Some((start, passed + 1)))
            } else at.copy(buffer = at.buffer :+ e)
          case _ =>
            // idle or closed period (its timer may not have fired yet if
            // the watermark lags): the rollover delivers the previous
            // period's overflow NOW, stamped at the opening event — the
            // buffer never mixes two periods — and supersedes its timer
            out ++= drain(key, at.buffer, t)
            out += Emission(key, Seq(e), rolled = false, e.time)
            Keyed(Some((t, 1)), at.buffer.cleared,
              Some(math.max(t + dtMs, wm + 1)))
        }
      }
      (next, out.result())
    }

    /** The live period closed: deliver its overflow. */
    def timer(key: String, at: Keyed[(Long, Int), WireEvent],
        wm: Long): (Keyed[(Long, Int), WireEvent], Seq[Emission]) =
      (at.copy(state = None, buffer = at.buffer.cleared),
        drain(key, at.buffer, wm).toSeq)
  }
}
