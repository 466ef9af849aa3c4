package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The riemann index as Structured Streaming keyed state
  * (reference src/riemann/index.clj:58-126): latest event per
  * [host, service], with the reaper (src/riemann/core.clj:276-309,
  * index.clj:73-87) realized as an event-time timeout that re-streams a
  * synthetic `state="expired"` copy once, then drops the entry —
  * exactly the reference's "expired members emitted once" contract.
  *
  * Scale: state is partitioned by the pkey hash across executors (the
  * state store), so inserts/expiries are embarrassingly parallel; the
  * only shuffle is the groupByKey exchange on [host, service].
  */
object StreamingIndex {

  /** Insert stream → updates + expiries. Output: the latest event per
    * key per trigger (the index "insert" pubsub channel) plus
    * `state="expired"` rows when a key's TTL lapses past the watermark
    * (the reaper channel). */
  def apply(events: Dataset[WireEvent], watermarkDelay: String = "0 seconds")
      : Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("time", watermarkDelay)
      .groupByKey(e => (e.host, e.service))
      .flatMapGroupsWithState[WireEvent, WireEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((host, service), rows, state: GroupState[WireEvent]) =>
          if (state.hasTimedOut) {
            // reaper: emit the expired copy once, then forget the key
            // (expire sets state="expired", time=now ≈ watermark;
            // common.clj:119-124). A timer armed by an OLDER event may
            // fire after a newer ttl-less event became latest — such a
            // key is immortal and must not be evicted (stale-timer
            // check; timers cannot be un-armed, only ignored here).
            val last = state.get
            val deadline = last.ttl.map(t => last.time.getTime + (t * 1000).toLong)
            if (deadline.exists(_ <= state.getCurrentWatermarkMs())) {
              state.remove()
              Iterator(last.copy(state = "expired",
                time = new java.sql.Timestamp(state.getCurrentWatermarkMs())))
            } else {
              deadline.foreach(d => state.setTimeoutTimestamp(
                math.max(d, state.getCurrentWatermarkMs() + 1)))
              Iterator.empty
            }
          } else {
            // same total order as IndexStep (SEvent.totalKey):
            // maxBy keeps the first maximal element, so an exact
            // full-key duplicate of the stored event keeps the stored
            // one — identical semantics in both implementations
            val latest = (state.getOption.iterator ++ rows)
              .maxBy(SEvent.totalKey)
            state.update(latest)
            latest.ttl.foreach { t =>
              val deadline = latest.time.getTime + (t * 1000).toLong
              // a deadline already behind the watermark fires next trigger
              state.setTimeoutTimestamp(
                math.max(deadline, state.getCurrentWatermarkMs() + 1))
            }
            Iterator(latest)
          }
      }
  }
}
