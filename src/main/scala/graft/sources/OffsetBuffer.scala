package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** The offset rule of an in-memory micro-batch source: the ingest
  * servers' frame buffer ([[RiemannServerStream]]) and each fan-out
  * subscriber's row buffer ([[FanoutBuffer]]) are both this class.
  *
  *   - '''Epoch base.''' Offsets are `base + index`, and a fresh buffer
  *     starts its base at the wall clock (ms × 1e6). A restarted
  *     source's offsets therefore start above anything a previous
  *     incarnation checkpointed: the engine detects new data by offset
  *     inequality, and a fresh buffer whose COUNT happened to equal the
  *     recovered offset would otherwise stall until one more item came.
  *   - '''Adopt from a checkpoint.''' If a recovered offset is AHEAD of
  *     the base (the wall clock stepped back across the restart),
  *     [[adopt]] re-bases to it; relabeling unplanned items upward never
  *     drops or repeats one. Recovery may hand over offsets in any order
  *     (a replayed batch passes both its start and end), hence
  *     max-until-the-first-slice. Once a batch has been sliced, the base
  *     is a lineage some checkpoint already holds, and re-basing would
  *     relabel delivered items as new data — so adopt stops for good,
  *     also for a successor that takes the buffer over in-process.
  *   - '''Commit-trim.''' [[slice]] reads `[start, end)` clamped to what
  *     is held; [[commit]] drops everything before `end`. The engine
  *     commits lazily (a batch's offsets commit when the NEXT batch is
  *     planned), so a sliced batch stays held until then and a replay
  *     of it finds its items.
  *   - '''Capacity wait.''' [[append]] blocks while the items no batch
  *     has sliced yet (the backlog) would pass `capacity`; a lone
  *     append larger than `capacity` goes in once the backlog is empty.
  *     Sliced-but-uncommitted items do not count: with lazy commits, a
  *     batch that sliced the whole buffer would otherwise hold it full
  *     with no new item able to arrive and plan the committing batch.
  *     So at most `capacity` unsliced items plus one sliced batch are
  *     held (one oversized append aside).
  *
  * [[close]] ends the buffer: waiting and later appends return false.
  * [[reopen]] hands a closed buffer, items and base intact, to a
  * successor source (with the successor's capacity). */
final class OffsetBuffer[T: ClassTag](private var capacity: Int) {
  private val items = new ArrayBuffer[T]()
  // offset of items(0)
  private var base = System.currentTimeMillis() * 1000000L
  // end of the furthest slice: items past it are the backlog
  private var sliced = base
  private var everSliced = false
  private var open = true

  private def backlog: Long = base + items.size - math.max(sliced, base)

  /** Append `xs` as one unit, waiting for room (see the capacity wait).
    * False, and nothing appended, once the buffer is closed. */
  def append(xs: Iterable[T]): Boolean = synchronized {
    val n = xs.size
    while (open && backlog > 0 && backlog + n > capacity) wait()
    if (open) items ++= xs
    open
  }

  /** The offset after the last item held. */
  def latest: Long = synchronized(base + items.size)

  /** A checkpointed offset reached this buffer (see the epoch base). */
  def adopt(n: Long): Unit = synchronized {
    if (!everSliced && n > base) base = n
  }

  /** The items at offsets `[start, end)` that are still held. */
  def slice(start: Long, end: Long): Array[T] = synchronized {
    everSliced = true
    sliced = math.max(sliced, end)
    notifyAll()
    val from = math.max(0L, start - base).toInt
    val to = math.max(0L, math.min(end - base, items.size.toLong)).toInt
    if (from >= to) Array.empty[T] else items.slice(from, to).toArray
  }

  /** Drop the items before `end`. */
  def commit(end: Long): Unit = synchronized {
    val done = math.max(0L, math.min(end - base, items.size.toLong)).toInt
    items.remove(0, done)
    base += done
    notifyAll()
  }

  def isEmpty: Boolean = synchronized(items.isEmpty)

  def isOpen: Boolean = synchronized(open)

  def close(): Unit = synchronized { open = false; notifyAll() }

  def reopen(capacity: Int): this.type = synchronized {
    this.capacity = capacity; open = true; this
  }
}
