package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sinks.Sinks

/** `reinject` (reference src/riemann/config.clj:280-288): a stream that
  * sends events back into the core's top-level streams.
  *
  * A Structured Streaming query's DAG is acyclic, so the loop closes
  * ACROSS queries instead of inside one: [[sink]] appends derived
  * events to an in-memory loopback stream, and the topology unions
  * [[source]] with its primary input — reinjected events re-enter the
  * full topology on the next trigger. That is riemann's actual
  * semantics too: `reinject` enqueues into the core asynchronously, it
  * does not recurse inline.
  *
  * The sink collects each (derived, low-volume — alerts, rollups)
  * batch to the driver before appending, like the reference's
  * `append`; reinjecting a full-volume stream would make the driver
  * the bottleneck — fan such loops through kafka instead. That
  * contract is ENFORCED: a batch larger than `maxBatchRows` fails the
  * sink loudly (wrap in [[Sinks.Guarded]] to dead-letter the overflow
  * instead of failing the query), and the collect itself is
  * limit-bounded so a misconfigured full-volume topology can never
  * silently melt the driver. */
class ReinjectLoop(maxBatchRows: Int = ReinjectLoop.DefaultMaxBatchRows)(
    implicit sqlCtx: SQLContext) extends Serializable {
  import sqlCtx.implicits._

  require(maxBatchRows > 0, s"maxBatchRows must be > 0, got $maxBatchRows")

  private val loop = MemoryStream[WireEvent]
  private var lastRun: String = null
  private var lastBatch = Long.MinValue

  /** The loopback source: union this with the primary input. */
  def source: Dataset[WireEvent] = loop.toDS()

  /** The loopback sink: attach via foreachBatch / [[Sinks.attach]].
    * foreachBatch is at-least-once — a failed/restarted batch replays
    * with the same batchId, so re-deliveries are dropped rather than
    * reinjected twice. */
  def sink: Sinks.EventSink = new Sinks.EventSink {
    override def write(batch: DataFrame, batchId: Long): Unit =
      ReinjectLoop.this.synchronized {
        // batchIds restart at 0 under a fresh checkpoint — key the
        // replay guard on the run (same discipline as ForwardSink)
        val runId = batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.runId")
        if (runId != lastRun) { lastRun = runId; lastBatch = Long.MinValue }
        if (batchId > lastBatch) {
          // limit(cap + 1) bounds driver memory even on the failing
          // path: we learn "over cap" from one extra row, not from
          // materializing the runaway batch
          val rows = WireEvent.from(batch.limit(maxBatchRows + 1)).collect()
          if (rows.length > maxBatchRows)
            throw new IllegalStateException(
              s"reinject batch $batchId exceeds maxBatchRows=$maxBatchRows: " +
                "reinject is for derived low-volume streams (alerts, " +
                "rollups); fan full-volume loops through kafka, or wrap " +
                "this sink in Sinks.Guarded to dead-letter the overflow")
          if (rows.nonEmpty) loop.addData(rows.toSeq)
          lastBatch = batchId
        }
      }
  }
}

object ReinjectLoop {
  /** Default per-batch reinjection cap — far above any alert-scale
    * feedback, far below a full-volume stream. */
  val DefaultMaxBatchRows = 10000
}
