package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** The riemann index as a [[Step]] over [[WireEvent]]: the latest
  * event per [host, service] ([[IndexStep.latestWins]]), and a reaper
  * that emits one `state="expired"` copy ([[IndexStep.expiredCopy]])
  * when the TTL deadline passes the watermark, then forgets the key —
  * the semantics of [[StreamingIndex]], with named state and a real
  * per-key timer instead of the single GroupStateTimeout slot.
  *
  * Deletes (config.clj:258-271 delete-from-index, marked by the
  * `deleteState` convention) interleave with inserts in the total
  * order: a delete drops the entry and its timer, emits nothing, and a
  * later insert re-creates the key. The greatest row in the order wins
  * (the LAST in sorted order), so shuffle arrival order never decides
  * the winner and StreamingIndex agrees event-for-event.
  *
  * The state keeps the names and encoder the index has always written
  * (`latest` as a WireEvent, `armed`), so a checkpoint of a
  * whole-event index restarts with its keys. */
final class IndexStep(keepKeys: Set[String], deleteState: Option[String])
    extends Step[(String, String), WireEvent, WireEvent, Unit, WireEvent] {
  import IndexStep._

  def state: (String, Encoder[WireEvent]) =
    ("latest", Encoders.product[WireEvent])
  def order: Ordering[WireEvent] = latestWins

  private def armAt(cur: Option[WireEvent], wm: Long): Option[Long] =
    cur.flatMap(deadline).map(math.max(_, wm + 1))

  def rows(key: (String, String), at: Keyed[WireEvent, Unit],
      rows: Seq[WireEvent],
      wm: Long): (Keyed[WireEvent, Unit], Seq[WireEvent]) = {
    val cur = rows.foldLeft(at.state) { (cur, e) =>
      if (deleteState.contains(e.state)) None
      // `max` keeps the first of equals: an exact duplicate of the
      // stored event keeps the stored one, as StreamingIndex's maxBy
      else Some((cur.toSeq :+ e).max(latestWins))
    }
    (at.copy(state = cur, deadline = armAt(cur, wm)), cur.toSeq)
  }

  def timer(key: (String, String), at: Keyed[WireEvent, Unit],
      wm: Long): (Keyed[WireEvent, Unit], Seq[WireEvent]) =
    at.state match {
      case Some(cur) if deadline(cur).exists(_ <= wm) =>
        (at.copy(state = None), Seq(expiredCopy(cur, wm, keepKeys)))
      // a timer armed before a ttl-less event became latest (checkpoints
      // that kept such timers): the entry stays
      case cur => (at.copy(deadline = armAt(cur, wm)), Nil)
    }
}

/** The index's rules, shared by [[IndexStep]] and the served index
  * (graft.Main.ServedIndex), which reads them on its serving path: a
  * plain object, so loading it loads none of the streaming classes. */
object IndexStep {
  /** Reaper default: the expired copy keeps only the pkey
    * (core.clj:295 `(get opts :keep-keys [:host :service])`). */
  val DefaultKeep: Set[String] = Set("host", "service")
  /** `:keep-keys :all` sentinel — preserve every field. */
  val All: Set[String] = Set("*all*")

  /** Length-prefixed joins so the key is INJECTIVE — a plain mkString
    * would collide on separator-containing values (Seq("a,b") vs
    * Seq("a","b")) and fall back to arrival order, the very
    * nondeterminism the total key exists to kill. */
  private def lp(parts: Seq[String]): String =
    parts.map(p => s"${p.length}:$p").mkString(",")

  private val byTotalKey: Ordering[WireEvent] = Ordering.by(SEvent.totalKey)

  /** The latest-wins order over same-key events, shared by the index
    * step and the served index (graft.Main.ServedIndex):
    * [[SEvent.totalKey]], then the tag list, then the sorted
    * attributes, a null container read as empty. The two containers
    * are rendered and compared only on an exact tie of the total key.
    * The greatest event wins; an exact tie on every component is the
    * same event. */
  val latestWins: Ordering[WireEvent] = new Ordering[WireEvent] {
    def compare(a: WireEvent, b: WireEvent): Int = {
      val c = byTotalKey.compare(a, b)
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
    * tags under their own names, every field under [[All]].
    * riemann's keep-keys is select-keys over the EVENT MAP, where
    * attributes are top-level keys, so single attribute names can be
    * kept. An absent (null) container stays absent. */
  def expiredCopy(cur: WireEvent, atMs: Long,
      keepKeys: Set[String]): WireEvent = {
    val keepAll = keepKeys == All
    cur.copy(state = "expired",
      time = new java.sql.Timestamp(atMs),
      metric = if (keepAll || keepKeys("metric")) cur.metric else None,
      ttl = if (keepAll || keepKeys("ttl")) cur.ttl else None,
      tags =
        if (keepAll || keepKeys("tags") || cur.tags == null) cur.tags
        else Seq.empty,
      attributes =
        if (keepAll || cur.attributes == null) cur.attributes
        else cur.attributes.filter(kv => keepKeys(kv._1)))
  }
}

/** The index on [[KeyedProcessor]]: insert stream → updates + reaper
  * expiries. `keepKeys` = the reaper's :keep-keys option;
  * `deleteState`, when set, marks tombstones — union a delete stream
  * tagged with that state to get `delete-from-index`
  * (config.clj:258-271). */
object KeyedIndex {
  def apply(events: Dataset[WireEvent], watermarkDelay: String = "0 seconds",
      keepKeys: Set[String] = IndexStep.DefaultKeep,
      deleteState: Option[String] = None): Dataset[WireEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedProcessor(events, watermarkDelay,
      new IndexStep(keepKeys, deleteState))(e => (e.host, e.service))
  }
}
