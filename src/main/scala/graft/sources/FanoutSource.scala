package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.types.StructType

/** One fan-out subscriber's input (see [[graft.config.ConfigFile.Loader]]):
  * the tee appends each micro-batch of the shared source here, and the
  * subscriber's own StreamingQuery reads it through [[toDF]]. The rows
  * sit in an [[OffsetBuffer]], the offset rule the ingest servers use,
  * so a full buffer makes the tee wait exactly as a full server buffer
  * makes its clients wait.
  *
  * Exactly-once: the tee restarts on its checkpoint and may replay its
  * last micro-batch under the same batch id; [[offer]] ignores a batch
  * id it has already appended.
  *
  * Memory: at most [[FanoutBuffer.Capacity]] rows that no subscriber
  * batch has read yet, plus the batch being read (one tee batch larger
  * than the capacity goes in on its own). [[close]] drops the buffer:
  * the tee never waits on a closed one. */
final class FanoutBuffer(val schema: StructType) {
  private val rows = new OffsetBuffer[InternalRow](FanoutBuffer.Capacity)
  // only the tee's thread writes it; a restarted tee runs on a new one
  @volatile private var lastBatch = -1L

  /** Append tee batch `batchId`, once. Waits while the buffer is full. */
  def offer(batchId: Long, batch: Array[InternalRow]): Unit =
    if (batchId > lastBatch && rows.append(batch)) lastBatch = batchId

  def close(): Unit = rows.close()

  def isOpen: Boolean = rows.isOpen

  /** A streaming DataFrame over this buffer. Each call makes a new
    * source; the query that starts on it closes the buffer when it
    * stops. */
  def toDF(spark: SparkSession): DataFrame =
    SessionBridge.streamOf(spark, new FanoutSource(spark, schema, rows))
}

object FanoutBuffer {
  /** Rows a subscriber may lag behind before the tee waits. */
  private[graft] val Capacity = 1 << 16
}

/** The subscriber side of a [[FanoutBuffer]]. Each batch is a streaming
  * local relation, so the optimizer folds the subscriber's filters and
  * projections into the scan: only the rows a subscriber keeps leave
  * the driver. */
private[sources] final class FanoutSource(spark: SparkSession,
    override val schema: StructType, rows: OffsetBuffer[InternalRow])
    extends Source {

  // offsets read back from a checkpoint arrive serialized
  private def at(o: Offset): Long = {
    val n = o.json.toLong
    if (o.isInstanceOf[SerializedOffset]) rows.adopt(n)
    n
  }

  override def getOffset: Option[Offset] = Some(LongOffset(rows.latest))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = at(end)
    SessionBridge.streamingRows(spark, this,
      rows.slice(start.fold(0L)(at), e).toSeq)
  }

  override def commit(end: Offset): Unit = rows.commit(end.json.toLong)

  override def stop(): Unit = rows.close()
}
