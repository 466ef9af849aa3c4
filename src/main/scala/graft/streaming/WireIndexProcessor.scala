package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** [[IndexProcessor]] over [[WireEvent]] — identical latest-wins /
  * TTL-reaper / delete-tombstone semantics with the wire tags carried
  * through, so the served index can answer `tagged "x"` queries (the
  * reference's index stores whole events, index.clj:58-126; ours
  * previously typed tags away at this boundary). A separate concrete
  * processor rather than a type-parameterized IndexProcessor: the
  * state encoders and the three-way parity pins on the SEvent form
  * stay untouched.
  *
  * Tie-breaks ([[WireIndexProcessor.latestWins]]) extend
  * [[SEvent.totalKey]] with the tag list and then the attributes, so
  * two events equal on every SEvent field but differing in tags still
  * resolve deterministically. The reaper's expired copy
  * ([[WireIndexProcessor.expiredCopy]]) keeps tags only under
  * keep-keys "tags" / :all, like every other non-pkey field. */
class WireIndexProcessor(
    keepKeys: Set[String] = IndexProcessor.DefaultKeep,
    deleteState: Option[String] = None)
    extends StatefulProcessor[(String, String), WireEvent, WireEvent]
    with ArmedTimer[(String, String), WireEvent, WireEvent] {

  @transient private var latest: ValueState[WireEvent] = _
  @transient private var _armed: ValueState[Long] = _
  override protected def armed: ValueState[Long] = _armed

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    latest = getHandle.getValueState[WireEvent]("latest",
      Encoders.product[WireEvent], TTLConfig.NONE)
    _armed = getHandle.getValueState[Long]("armed",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, String),
      rows: Iterator[WireEvent], timerValues: TimerValues)
      : Iterator[WireEvent] = {
    val rs = rows.toSeq.sorted(WireIndexProcessor.latestWins)
    var cur = Option(latest.get())
    for (e <- rs) {
      if (deleteState.contains(e.state)) cur = None
      else cur = Some((cur.toSeq :+ e).max(WireIndexProcessor.latestWins))
    }
    cur match {
      case None =>
        latest.clear()
        disarm()
        Iterator.empty
      case Some(newest) =>
        latest.update(newest)
        WireIndexProcessor.deadline(newest).foreach(d =>
          rearm(math.max(d, timerValues.getCurrentWatermarkInMs() + 1)))
        Iterator(newest)
    }
  }

  override def handleExpiredTimer(key: (String, String),
      timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[WireEvent] = {
    val cur = latest.get()
    if (cur == null) return Iterator.empty
    val deadline = WireIndexProcessor.deadline(cur)
    if (deadline.exists(_ <= timerValues.getCurrentWatermarkInMs())) {
      latest.clear()
      armed.clear()
      Iterator(WireIndexProcessor.expiredCopy(cur,
        timerValues.getCurrentWatermarkInMs(), keepKeys))
    } else {
      armed.clear()
      deadline.foreach(d => rearm(
        math.max(d, timerValues.getCurrentWatermarkInMs() + 1)))
      Iterator.empty
    }
  }
}

object WireIndexProcessor {

  /** Length-prefixed joins so the key is INJECTIVE — a plain mkString
    * would collide on separator-containing values (Seq("a,b") vs
    * Seq("a","b")) and fall back to arrival order, the very
    * nondeterminism the total key exists to kill. */
  private def lp(parts: Seq[String]): String =
    parts.map(p => s"${p.length}:$p").mkString(",")

  private val bySEventKey: Ordering[WireEvent] =
    Ordering.by(e => SEvent.totalKey(e.toSEvent))

  /** The latest-wins order over same-key events, shared by this
    * processor and the served index (graft.Main.ServedIndex):
    * [[SEvent.totalKey]], then the tag list, then the sorted
    * attributes. The two containers are rendered and compared only on
    * an exact tie of the SEvent key. The greatest event wins; an
    * exact tie on every component is the same event. */
  val latestWins: Ordering[WireEvent] = new Ordering[WireEvent] {
    def compare(a: WireEvent, b: WireEvent): Int = {
      val c = bySEventKey.compare(a, b)
      if (c != 0) c
      else {
        def tags(e: WireEvent) = if (e.tags == null) "" else lp(e.tags)
        def attrs(e: WireEvent) =
          if (e.attributes == null) ""
          else lp(e.attributes.toSeq.sorted.flatMap(kv => Seq(kv._1, kv._2)))
        val t = tags(a).compareTo(tags(b))
        if (t != 0) t else attrs(a).compareTo(attrs(b))
      }
    }
  }

  /** When the reaper lapses `e`: its time plus its ttl, in epoch ms;
    * None for an event without a ttl, which never lapses. */
  def deadline(e: WireEvent): Option[Long] =
    e.ttl.map(t => e.time.getTime + (t * 1000).toLong)

  /** The reaper's one expired copy of `cur` (core.clj:282-304): state
    * "expired", time `atMs` (the watermark that lapsed it), and only
    * the :keep-keys fields — the pkey always survives, metric, ttl and
    * tags under their own names, every field under [[IndexProcessor.All]].
    * riemann's keep-keys is select-keys over the EVENT MAP, where
    * attributes are top-level keys, so single attribute names can be
    * kept. */
  def expiredCopy(cur: WireEvent, atMs: Long,
      keepKeys: Set[String]): WireEvent = {
    val keepAll = keepKeys == IndexProcessor.All
    cur.copy(state = "expired",
      time = new java.sql.Timestamp(atMs),
      metric = if (keepAll || keepKeys("metric")) cur.metric else None,
      ttl = if (keepAll || keepKeys("ttl")) cur.ttl else None,
      tags = if (keepAll || keepKeys("tags")) cur.tags else Seq.empty,
      attributes =
        if (keepAll) cur.attributes
        else cur.attributes.filter(kv => keepKeys(kv._1)))
  }

  def apply(events: Dataset[WireEvent],
      watermarkDelay: String = "0 seconds",
      keepKeys: Set[String] = IndexProcessor.DefaultKeep,
      deleteState: Option[String] = None): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("time", watermarkDelay)
      .groupByKey(e => (e.host, e.service))
      .transformWithState(new WireIndexProcessor(keepKeys, deleteState),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
