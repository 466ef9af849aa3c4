package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A key's state as a [[Step]] receives it and returns it: the value
  * state (None = cleared), the buffer, and the deadline of the key's
  * one armed timer (epoch ms; None = no timer). */
final case class Keyed[S, B](state: Option[S], buffer: Buffer[B],
    deadline: Option[Long])

/** A key's list state as one step call sees it: the stored rows, read
  * at most once and only when the step asks for [[all]], and the
  * call's appends, after a reset when [[reset]]. Only the appends are
  * written back, so a buffer that is only appended to is never re-read
  * or rewritten. */
final class Buffer[B] private (stored: Buffer.Stored[B], val reset: Boolean,
    val added: Vector[B]) {
  def :+(b: B): Buffer[B] = new Buffer(stored, reset, added :+ b)
  def ++(bs: Iterable[B]): Buffer[B] = new Buffer(stored, reset, added ++ bs)
  /** The buffer emptied: the stored rows and earlier appends drop. */
  def cleared: Buffer[B] = new Buffer(stored, reset = true, Vector.empty)
  /** Every row in the buffer, oldest first. */
  def all: Vector[B] = if (reset) added else stored.rows ++ added
}

object Buffer {
  private final class Stored[B](read: () => Iterator[B]) {
    lazy val rows: Vector[B] = read().toVector
  }
  def apply[B](read: () => Iterator[B]): Buffer[B] =
    new Buffer(new Stored(read), reset = false, Vector.empty)
}

/** One keyed-state op — riemann's closure over one atom plus
  * `periodically-until-expired` (streams.clj:499-541) as a value: how
  * a key's state moves on its rows of one trigger and on its timer.
  * A step is plain Scala; [[KeyedProcessor]] owns the state handles,
  * the row sort and the timer. */
trait Step[K, I, S, B, O] extends Serializable {
  /** Name and encoder of the key's value state. */
  def state: (String, Encoder[S])
  /** Name and encoder of the key's list state, for an op that buffers. */
  def buffer: Option[(String, Encoder[B])] = None
  /** The order a key's rows of one trigger reach [[rows]] in. */
  def order: Ordering[I]
  /** The key's rows of one trigger in [[order]], under the event-time
    * watermark `wm` (ms). */
  def rows(key: K, at: Keyed[S, B], rows: Seq[I], wm: Long): (Keyed[S, B], Seq[O])
  /** The key's timer fired: the watermark `wm` passed the deadline it
    * was armed at. The timer is spent (`at.deadline` is None). */
  def timer(key: K, at: Keyed[S, B], wm: Long): (Keyed[S, B], Seq[O])
}

/** The one `transformWithState` processor: every keyed-state op runs
  * as a [[Step]] on it. It holds a key's value state, its list state
  * (when the step buffers) and the armed deadline, sorts the key's
  * rows, and keeps one live timer per key: a changed deadline deletes
  * the superseded timer before registering the new one, and a step
  * that returns no deadline retires the timer, so a churning key never
  * accumulates stale timers in the store.
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`), which is also the
  * right provider at scale: state lives off-heap and spills. */
final class KeyedProcessor[K, I, S, B, O](step: Step[K, I, S, B, O])
    extends StatefulProcessor[K, I, O] {

  @transient private var value: ValueState[S] = _
  @transient private var list: Option[ListState[B]] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val (name, encoder) = step.state
    value = getHandle.getValueState[S](name, encoder, TTLConfig.NONE)
    list = step.buffer.map { case (n, e) =>
      getHandle.getListState[B](n, e, TTLConfig.NONE)
    }
    armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  private def read(): Keyed[S, B] =
    Keyed(if (value.exists()) Some(value.get()) else None,
      Buffer(() => list.fold(Iterator.empty[B])(_.get())),
      if (armed.exists()) Some(armed.get()) else None)

  private def write(was: Keyed[S, B], now: Keyed[S, B]): Unit = {
    if (now.state != was.state) now.state.fold(value.clear())(value.update)
    list.foreach { l =>
      if (now.buffer.reset) l.clear()
      now.buffer.added.foreach(l.appendValue)
    }
    if (now.deadline != was.deadline) {
      was.deadline.foreach(getHandle.deleteTimer)
      now.deadline match {
        case Some(d) => getHandle.registerTimer(d); armed.update(d)
        case None => armed.clear()
      }
    }
  }

  override def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val at = read()
    val (next, out) = step.rows(key, at, rows.toSeq.sorted(step.order),
      timerValues.getCurrentWatermarkInMs())
    write(at, next)
    out.iterator
  }

  override def handleExpiredTimer(key: K, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    // the fired timer is spent: Spark removes it, so only the armed
    // record goes
    armed.clear()
    val at = read()
    val (next, out) = step.timer(key, at,
      timerValues.getCurrentWatermarkInMs())
    write(at, next)
    out.iterator
  }
}

object KeyedProcessor {
  /** Run `step` per `key` over `events`, whose `time` column is the
    * event time, watermarked `watermarkDelay` behind its max.
    * `outputTime` names the output's event-time column when a later
    * stateful operator watermarks on it. */
  def apply[K: Encoder, I, S, B, O: Encoder](events: Dataset[I],
      watermarkDelay: String, step: Step[K, I, S, B, O],
      outputTime: Option[String] = None)(key: I => K): Dataset[O] = {
    val keyed = events.withWatermark("time", watermarkDelay).groupByKey(key)
    val processor = new KeyedProcessor(step)
    outputTime.fold(keyed.transformWithState(processor, TimeMode.EventTime(),
      OutputMode.Append()))(
      keyed.transformWithState(processor, _, OutputMode.Append()))
  }
}
