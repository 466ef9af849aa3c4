package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming forms of riemann's per-key stateful operators — the
  * `transformWithState`/`flatMapGroupsWithState` family the batch
  * analogs in [[graft.operators.Windows]] document. Each processes the
  * trigger's rows in event-time order and keeps O(1) state per key. */
object StatefulOps {

  private def sorted(rows: Iterator[WireEvent]): Seq[WireEvent] =
    rows.toSeq.sortBy(e => e.time.getTime)

  /** `changed-state` (streams.clj:1614-1659), streaming: pass events
    * whose `state` differs from the key's previous one. State =
    * (seen-anything, previous-state) so a null state is remembered too —
    * consecutive null states are unchanged, matching the batch form's
    * null-safe `<=>`. */
  def changedState(events: Dataset[WireEvent]): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[(Boolean, String), WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[(Boolean, String)]) =>
          var (seen, prev) = st.getOption.getOrElse((false, null: String))
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows)) {
            if (!seen || !java.util.Objects.equals(prev, e.state)) out += e
            seen = true
            prev = e.state
          }
          st.update((seen, prev))
          out.result().iterator
      }
  }

  /** `ewma-timeless r` (streams.clj:961-977), streaming: zero-init
    * accumulator, m ← (1−r)·m + r·x per event (nil metrics skipped),
    * each event re-emitted with the running average as its metric. */
  def ewmaTimeless(events: Dataset[WireEvent], r: Double)
      : Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[Double, WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Double]) =>
          var m = st.getOption.getOrElse(0.0)
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows)) {
            e.metric.foreach(x => m = (1 - r) * m + r * x)
            out += e.copy(metric = Some(m))
          }
          st.update(m)
          out.result().iterator
      }
  }

  /** `ddt` / `ddt-events` (streams.clj:776-839), streaming: the
    * derivative between successive events per key — each event (after
    * the first) re-emitted with metric = Δmetric/Δtime. Events with a
    * nil metric or a zero time delta are skipped, matching the batch
    * form's `time_s <> prev_time` guard. State = the previous
    * (time ms, metric). */
  def ddt(events: Dataset[WireEvent]): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[(Long, Double), WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[(Long, Double)]) =>
          var prev = st.getOption
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows); x <- e.metric) {
            val t = e.time.getTime
            prev match {
              case Some((pt, _)) if t <= pt =>
                // a late event from an earlier micro-batch: emitting
                // would produce a negative-Δt derivative and regress
                // the state — the batch form's global sort can never
                // see this, so the stream drops it (time only advances)
                ()
              case Some((pt, pm)) =>
                out += e.copy(metric = Some((x - pm) / ((t - pt) / 1000.0)))
                prev = Some((t, x))
              case None =>
                prev = Some((t, x))
            }
          }
          prev.foreach(st.update)
          out.result().iterator
      }
  }

  /** `fixed-event-window n` (streams.clj:305-320), streaming: buffer n
    * events per key, emit the full vector when the nth arrives. State =
    * the partial buffer (bounded by n). */
  def fixedEventWindow(events: Dataset[WireEvent], n: Int)
      : Dataset[Seq[WireEvent]] = {
    require(n > 0, s"fixed-event-window needs n > 0 (got $n): " +
      "a non-positive n would buffer per-key state forever without emitting")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[Seq[WireEvent], Seq[WireEvent]](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Seq[WireEvent]]) =>
          var buf = st.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[Seq[WireEvent]]
          for (e <- sorted(rows)) {
            buf :+= e
            if (buf.length >= n) { out += buf; buf = Seq.empty }
          }
          st.update(buf)
          out.result().iterator
      }
  }

  /** `moving-event-window n` (streams.clj:292-303), streaming: emit the
    * window of the last ≤ n events on every arrival. State = the ring
    * buffer (bounded by n). */
  def movingEventWindow(events: Dataset[WireEvent], n: Int)
      : Dataset[Seq[WireEvent]] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[Seq[WireEvent], Seq[WireEvent]](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Seq[WireEvent]]) =>
          var buf = st.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[Seq[WireEvent]]
          for (e <- sorted(rows)) {
            buf = (buf :+ e).takeRight(n)
            out += buf
          }
          st.update(buf)
          out.result().iterator
      }
  }

  /** `moving-time-window n` (streams.clj:322-353), streaming: per
    * accepted event, emit the window of events within the last n
    * seconds of the maximum time seen (the horizon). Events at or
    * behind horizon − n are dropped without emission — the reference's
    * late-data rule. State = (horizon ms, pruned buffer). */
  def movingTimeWindow(events: Dataset[WireEvent], nSeconds: Long)
      : Dataset[Seq[WireEvent]] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[(Long, Seq[WireEvent]), Seq[WireEvent]](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[(Long, Seq[WireEvent])]) =>
          var (horizon, buf) =
            st.getOption.getOrElse((Long.MinValue, Seq.empty[WireEvent]))
          val out = Seq.newBuilder[Seq[WireEvent]]
          for (e <- sorted(rows)) {
            val t = e.time.getTime
            if (nSeconds > 0 && (horizon == Long.MinValue ||
                t > horizon - nSeconds * 1000)) {
              horizon = math.max(horizon, t)
              buf = (buf :+ e).filter(_.time.getTime > horizon - nSeconds * 1000)
                .sortBy(_.time.getTime)
              out += buf
            }
          }
          st.update((horizon, buf))
          out.result().iterator
      }
  }

  /** `top k f` (streams.clj:1015-1100), streaming: a bounded leaderboard
    * over the per-[host,service] metric. Events whose key currently
    * ranks in the top k pass through; a key demoted out of the top set
    * is emitted once as an expired copy (the reference's demotion
    * mirror, mirroring `dual`). State = the totals map, partitioned by
    * `scope` (constant scope = the reference's global top). */
  def top(events: Dataset[WireEvent], k: Int,
      scope: WireEvent => String = _ => "",
      maxKeys: Int = 10000): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(scope)
      .flatMapGroupsWithState[Map[(String, String), Double], WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Map[(String, String), Double]]) =>
          var totals = st.getOption.getOrElse(Map.empty)
          // leaderboard maintained incrementally: the full O(N log N)
          // sort runs only when an update can change membership, not
          // per event (heavy-hitter updates are the common case)
          def computeTop() = totals.toSeq
            .sortBy { case ((h, s), m) => (-m, h, s) }.take(k).map(_._1).toSet
          var topSet = computeTop()
          def minTotal = if (topSet.isEmpty) Double.NegativeInfinity
            else topSet.map(totals).min
          var threshold = minTotal
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows)) {
            val key = (e.host, e.service)
            val m = e.metric.getOrElse(0.0)
            val member = topSet.contains(key)
            totals += key -> m
            val mayChange =
              (member && m <= threshold) ||
                (!member && (m >= threshold || topSet.size < k))
            if (!mayChange) {
              if (member) { out += e; threshold = minTotal }
            } else {
              val before = topSet
              topSet = computeTop()
              threshold = minTotal
              if (topSet.contains(key)) out += e
              // demoted keys get one expired mirror
              for ((h, s) <- before -- topSet)
                out += e.copy(host = h, service = s, state = "expired",
                  metric = totals.get((h, s)))
            }
          }
          // bound the state: evict the lowest totals beyond maxKeys so
          // high-cardinality key churn can't grow state without limit
          // (keys far below the top can't re-enter it anyway)
          if (totals.size > maxKeys)
            totals = totals.toSeq.sortBy(-_._2).take(maxKeys).toMap
          st.update(totals)
          out.result().iterator
      }
  }

  /** `top k f` faithful port (streams.clj:1015-1100): the dual view
    * ranked by each key's LATEST metric (not a running total — see
    * [[top]] for the leaderboard-by-total variant). Per event, after
    * updating the ≤k-entry index of (host, service) → latest metric:
    *
    *  - expired input or missing metric → key leaves the index, the
    *    top stream sees `expire(e)` (host/service + state="expired",
    *    metric dropped — common.clj:119-124);
    *  - key outside the top set (value ≤ current minimum, set full) →
    *    top stream sees `expire(e)`;
    *  - key in the top set → the event passes unchanged; with
    *    `demote`, the key it displaced is first mirrored as expired
    *    (the reference's `demote?` arity).
    *
    * Expired mirrors are stamped with the TRIGGERING event's time —
    * the reference uses the wall clock (`unix-time`), which would race
    * the watermark here; event-time keeps goldens deterministic.
    * State is bounded at k entries per scope by construction. */
  def topLatest(events: Dataset[WireEvent], k: Int, demote: Boolean = false,
      scope: WireEvent => String = _ => ""): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    def expireOf(e: WireEvent): WireEvent =
      SEvent(e.host, e.service, "expired", None, e.time, None)
    events.groupByKey(scope)
      .flatMapGroupsWithState[Map[(String, String), Double], WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Map[(String, String), Double]]) =>
          var top = st.getOption.getOrElse(Map.empty[(String, String), Double])
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows)) {
            val ekey = (e.host, e.service)
            val v = if (e.state == "expired") None else e.metric
            // deterministic minimum (ties by key — the reference's scan
            // is stable-sort-dependent and its tests never tie here)
            def minEntry = top.minBy { case ((h, s), m) => (m, h, s) }
            v match {
              case None =>
                top -= ekey
                out += expireOf(e)
              case Some(value) =>
                val member = top.contains(ekey)
                if (!member && top.size >= k && value <= minEntry._2)
                  out += expireOf(e) // stays out
                else {
                  top += ekey -> value
                  var demoted: Option[(String, String)] = None
                  if (top.size > k) {
                    val sm = minEntry._1; demoted = Some(sm); top -= sm
                  }
                  if (top.contains(ekey)) {
                    if (demote) demoted.foreach { case (h, s) =>
                      out += SEvent(h, s, "expired", None, e.time, None)
                    }
                    out += e
                  } else out += expireOf(e)
                }
            }
          }
          st.update(top)
          out.result().iterator
      }
  }

  /** `sreduce f init` (streams.clj:206-250), streaming: running reduce
    * over the metric with visible intermediates — each event re-emitted
    * carrying the accumulator. */
  def sreduce(events: Dataset[WireEvent], init: Double,
      f: (Double, Double) => Double): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[Double, WireEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[Double]) =>
          var acc = st.getOption.getOrElse(init)
          val out = Seq.newBuilder[WireEvent]
          for (e <- sorted(rows)) {
            e.metric.foreach(x => acc = f(acc, x))
            out += e.copy(metric = Some(acc))
          }
          st.update(acc)
          out.result().iterator
      }
  }

  /** `throttle n dt` (streams.clj:1102-1118), streaming: at most n
    * events per key per dt-second event-time bucket. State = (bucket,
    * count). */
  def throttle(events: Dataset[WireEvent], n: Int, dtSeconds: Long)
      : Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    throttleBy[WireEvent](events, n, dtSeconds,
      e => (e.host, e.service), _.time)
  }

  /** Generic throttle over any typed row: same (bucket, count) state,
    * caller supplies the key and the event-time accessor. The config
    * `throttle` op runs it on a frame's own rows, so every column rides
    * through with its own type. */
  def throttleBy[T](events: Dataset[T], n: Int, dtSeconds: Long,
      key: T => (String, String), time: T => java.sql.Timestamp)
      (implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(key)
      .flatMapGroupsWithState[(Long, Int), T](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, st: GroupState[(Long, Int)]) =>
          var (bucket, cnt) = st.getOption.getOrElse((Long.MinValue, 0))
          val out = Seq.newBuilder[T]
          for (e <- rows.toSeq.sortBy(time(_).getTime)) {
            val b = time(e).getTime / 1000 / dtSeconds
            // buckets only move forward: a late event from an older
            // bucket must not reset the current bucket's count (it is
            // dropped — its own bucket's quota is unknowable by then)
            if (b > bucket) { bucket = b; cnt = 0 }
            if (b == bucket && cnt < n) { out += e; cnt += 1 }
          }
          st.update((bucket, cnt))
          out.result().iterator
      }
  }
}
