package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming `coalesce` / `project` / `fill-in` — the state-combining
  * and timer-driven reference operators (streams.clj:1187-1241,
  * 2032-2101, 683-774).
  *
  * Divergence (documented; SURVEY §7 hard parts): the reference flushes
  * on wall-clock scheduler ticks; here emission is trigger-aligned
  * (coalesce/project) or event-time-timer driven (fill-in), so behavior
  * is deterministic under replay/backfill — time is driven through the
  * data exactly like the golden tests drive it. */
object CombineStreams {

  /** One emitted coalesce snapshot: the remembered set. */
  case class Snapshot(events: Seq[WireEvent], emitted_at: java.sql.Timestamp)

  /** `coalesce` (streams.clj:1187-1241): remembers the latest event per
    * [service, host] within each `scope` key and emits the whole
    * remembered set every trigger that touches the scope; expired
    * members (state TTL lapsed vs the newest event time) are emitted
    * once and dropped. `scope` keys partition the state (the `by`
    * composition from the reference docstring); use a constant for the
    * reference's global form. */
  def coalesce(events: Dataset[WireEvent], scope: WireEvent => String = _ => "")
      : Dataset[Snapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(scope)
      .flatMapGroupsWithState[Map[(String, String), WireEvent], Snapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Map[(String, String), WireEvent]]) =>
          var m = st.getOption.getOrElse(Map.empty)
          var maxT = 0L
          for (e <- rows) {
            m += ((e.service, e.host) -> (m.get((e.service, e.host)) match {
              case Some(old) if old.time.getTime > e.time.getTime => old
              case _ => e
            }))
            maxT = math.max(maxT, e.time.getTime)
          }
          // expired? (common.clj:111-117): explicit "expired" state OR
          // ttl lapsed — judged against the trigger's max event time
          // (the event-time stand-in for the reference's wall clock).
          // Expired members are emitted UNCHANGED once (coalesce-test
          // asserts set equality with the original event), then dropped.
          val (expired, live) = m.partition { case (_, e) =>
            e.state == "expired" ||
              e.ttl.exists(t => maxT - e.time.getTime > t * 1000) }
          st.update(live)
          val out = live.values.toSeq ++ expired.values
          Iterator(Snapshot(out.sortBy(e => (e.service, e.host)),
            new java.sql.Timestamp(maxT)))
      }
  }

  /** One emitted project vector: slot i = latest event matching
    * predicate i (None while unmatched). */
  case class Basis(slots: Seq[Option[WireEvent]])

  /** `project` (streams.clj:2032-2101): N predicates, state = latest
    * match per slot, the whole vector re-emitted on any update.
    * Expiry (project*'s clean-expire): after each update, any slot
    * holding an expired event — explicit "expired" state or ttl lapsed
    * vs the max event time seen — is emitted ONCE as the stripped
    * `(expire event)` copy (host+service only, state="expired",
    * time=now; common.clj:119-124) and the retained slot cleared. */
  def project(events: Dataset[WireEvent], preds: Seq[WireEvent => Boolean])
      : Dataset[Basis] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val basisEnc = Encoders.product[Basis]
    // state = (slots, max event time seen — the event-time "now")
    events.groupByKey(_ => "")
      .flatMapGroupsWithState[(Seq[Option[WireEvent]], Long), Basis](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[(Seq[Option[WireEvent]], Long)]) =>
          var (slots, now) = st.getOption
            .getOrElse((Seq.fill(preds.size)(None: Option[WireEvent]), 0L))
          def isExpired(e: WireEvent) = e.state == "expired" ||
            e.ttl.exists(t => now - e.time.getTime > t * 1000)
          def expireCopy(e: WireEvent) = SEvent(e.host, e.service, "expired",
            None, new java.sql.Timestamp(now), None)
          val out = Seq.newBuilder[Basis]
          for (e <- rows.toSeq.sortBy(_.time.getTime)) {
            now = math.max(now, e.time.getTime)
            val hits = preds.zipWithIndex.filter(_._1(e)).map(_._2)
            if (hits.nonEmpty) {
              slots = slots.zipWithIndex.map { case (s, i) =>
                if (hits.contains(i)) Some(e) else s }
              // emit with expired slots as their stripped copies...
              out += Basis(slots.map(_.map(s =>
                if (isExpired(s)) expireCopy(s) else s)))
              // ...then forget them (once-only)
              slots = slots.map(_.filterNot(isExpired))
            }
          }
          st.update((slots, now))
          out.result().iterator
      }
  }

  /** `fill-in interval filler` (streams.clj:683-719): when an interval
    * passes with no events for a key, synthesize a copy of the key's
    * last event with the filler metric — realized as an event-time
    * timer per [host, service] that re-arms and back-fills every
    * missing interval up to the watermark. */
  def fillIn(events: Dataset[WireEvent], intervalS: Long, fillMetric: Double,
      watermarkDelay: String = "0 seconds"): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("time", watermarkDelay)
      .groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[WireEvent, WireEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((host, service), rows, st: GroupState[WireEvent]) =>
          val out = Seq.newBuilder[WireEvent]
          if (st.hasTimedOut) {
            // synthesize fillers for every interval between the last
            // event and the watermark, then re-arm. "Stops inserting
            // when expired" (streams.clj:686-708): a timer that fires
            // while the last event is expired synthesizes nothing and
            // stays disarmed until a live event re-arms it.
            var last = st.get
            val wm = st.getCurrentWatermarkMs()
            if (last.state != "expired") {
              while (last.time.getTime + intervalS * 1000 <= wm) {
                last = last.copy(metric = Some(fillMetric),
                  time = new java.sql.Timestamp(last.time.getTime + intervalS * 1000))
                out += last
              }
              st.update(last)
              st.setTimeoutTimestamp(
                math.max(last.time.getTime + intervalS * 1000, wm + 1))
            }
          } else {
            // synthesize fillers for gaps BETWEEN events too — a gap
            // whose events resume within the same trigger would
            // otherwise produce different output than one spanning
            // triggers (determinism under replay/backfill)
            val rs = rows.toSeq.sortBy(_.time.getTime)
            var lastOpt = st.getOption
            for (e <- rs) {
              // no synthesis out of an expired predecessor — the
              // reference cancels its fill timer on expired events and
              // resumes only when a live one arrives
              lastOpt.filter(_.state != "expired").foreach { last =>
                var cur = last
                while (cur.time.getTime + intervalS * 1000 < e.time.getTime) {
                  cur = cur.copy(metric = Some(fillMetric),
                    time = new java.sql.Timestamp(
                      cur.time.getTime + intervalS * 1000))
                  out += cur
                }
              }
              out += e
              if (!lastOpt.exists(_.time.getTime > e.time.getTime))
                lastOpt = Some(e)
            }
            val latest = lastOpt.get
            st.update(latest)
            st.setTimeoutTimestamp(
              math.max(latest.time.getTime + intervalS * 1000,
                st.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
      }
  }
}
