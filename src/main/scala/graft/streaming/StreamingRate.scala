package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** `rate interval` as a [[Step]] with the reference's expiry semantics
  * (streams.clj:841-883; golden: streams_test.clj rate-expiration):
  * per key, sum the metrics of each epoch-aligned interval and emit
  * sum/interval at the interval tick; between events keep emitting
  * zero-rate ticks carrying the latest event's ttl decremented per
  * interval, and STOP once that ttl lapses (the stream "expires" —
  * reference `periodically-until-expired`, streams.clj:499-541). The
  * next event restarts the poller.
  *
  * The wall-clock poller becomes event-time timers: each tick's timer
  * fires when the watermark passes the interval end, emits, and
  * re-arms the next tick while the carried ttl is live. Late events
  * (older than the open interval) are dropped, mirroring the batch
  * operator's per-event-time bucketing.
  */
object StreamingRate {
  /** One rate tick: `time_s` is the interval END (the flush tick),
    * `rate` None when the interval saw only metric-less events, `ttl`
    * the carried (decayed) ttl — None when the event had no ttl. */
  case class RateEmission(key: String, time_s: Long, rate: Option[Double],
      ttl: Option[Double])

  /** A key's open interval: its `start` ms, metric `sum` and `kind` —
    * 0 = synthetic zero-fill tick, 1 = real events but only null
    * metrics, 2 = real events with a metric sum; and the newest event's
    * interval start and ttl seconds (`carryTtl` NaN when the event has
    * no ttl, i.e. never expires). */
  case class Open(start: Long, sum: Double, kind: Int, carryStart: Long,
      carryTtl: Double)

  /** Keyed by `scope` (riemann composes `(by [:service] (rate ...))`). */
  def apply(events: Dataset[WireEvent], dtSeconds: Long,
      scope: WireEvent => String = _.service,
      watermarkDelay: String = "0 seconds"): Dataset[RateEmission] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedProcessor(events, watermarkDelay, step(dtSeconds))(scope)
  }

  private def step(dtSeconds: Long)
      : Step[String, WireEvent, Open, Unit, RateEmission] =
      new Step[String, WireEvent, Open, Unit, RateEmission] {
    private val dtMs = dtSeconds * 1000

    def state: (String, Encoder[Open]) = ("open", Encoders.product[Open])
    def order: Ordering[WireEvent] = Ordering.by(_.time.getTime)

    /** Decayed ttl for the interval starting `startMs`: Some(v) counts
      * down from the carried event's interval; None = never expires. */
    private def decayedTtl(o: Open, startMs: Long): Option[Double] =
      if (o.carryTtl.isNaN) None
      else Some(o.carryTtl - (startMs - o.carryStart) / 1000.0)

    private def emit(key: String, o: Open): RateEmission =
      RateEmission(key, (o.start + dtMs) / 1000,
        o.kind match {
          case 0 => Some(0.0)
          case 1 => None
          case _ => Some(o.sum / dtSeconds)
        },
        decayedTtl(o, o.start))

    /** True when a zero-fill tick at `startMs` would still be live. */
    private def fillLive(o: Open, startMs: Long): Boolean =
      decayedTtl(o, startMs).forall(_ > 0)

    def rows(key: String, at: Keyed[Open, Unit], rows: Seq[WireEvent],
        wm: Long): (Keyed[Open, Unit], Seq[RateEmission]) = {
      val out = Vector.newBuilder[RateEmission]
      val open = rows.foldLeft(at.state) { (cur, e) =>
        val t = e.time.getTime
        val bs = t - t % dtMs
        val m = e.metric.getOrElse(0.0)
        val kindOf = if (e.metric.isDefined) 2 else 1
        val o = cur match {
          case Some(o) if bs < o.start => o // late: drop
          case Some(o) if bs == o.start =>
            if (o.kind == 0) // a synthetic tick the event just caught up with
              o.copy(sum = m, kind = kindOf)
            else o.copy(sum = o.sum + m, kind = math.max(o.kind, kindOf))
          case Some(o) =>
            // rollover: close the open interval now; zero-fill the gap up
            // to the new event's interval while the carried ttl is live
            out += emit(key, o)
            var f = o.start + dtMs
            while (f < bs && fillLive(o, f)) {
              out += emit(key, o.copy(start = f, sum = 0.0, kind = 0))
              f += dtMs
            }
            o.copy(start = bs, sum = m, kind = kindOf)
          case None => Open(bs, m, kindOf, Long.MinValue, Double.NaN)
        }
        // newest event wins the carry (arrival order breaks ties like the
        // batch op's event_id)
        Some(if (o.carryStart <= bs)
          o.copy(carryStart = bs, carryTtl = e.ttl.getOrElse(Double.NaN))
        else o)
      }
      (at.copy(state = open,
        deadline = open.map(o => math.max(o.start + dtMs, wm + 1))),
        out.result())
    }

    /** The tick: emit the open interval, then chain the next tick — a
      * zero-fill while the ttl stays live, else expire and go quiet
      * until the next event. */
    def timer(key: String, at: Keyed[Open, Unit],
        wm: Long): (Keyed[Open, Unit], Seq[RateEmission]) =
      at.state.fold((at, Seq.empty[RateEmission])) { o =>
        val next = o.start + dtMs
        (if (fillLive(o, next))
          at.copy(state = Some(o.copy(start = next, sum = 0.0, kind = 0)),
            deadline = Some(math.max(next + dtMs, wm + 1)))
        else at.copy(state = None), Seq(emit(key, o)))
      }
  }
}
