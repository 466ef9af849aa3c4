package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KeyedIndex, SEvent, StreamingBatch, StreamingRate,
  StreamingRollup, StreamingStable, StreamingSubstringDedup}

/** The one keyed-state processor keeps one live timer per key: however
  * often a key re-arms, its state rows stay at the step's per-key
  * bound. `numRowsTotal` counts the key's value row, its armed deadline
  * and its buffered rows; RocksDB's internal column families hold the
  * registered timer twice (by key and by time) and a non-empty
  * buffer's row counter. A superseded timer left registered would add
  * two internal rows on every re-arm. */
class KeyedProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(state: String, t: Long, ttl: Option[Double] = None) =
    SEvent("h", "s", state, Some(1.0), ts(t), ttl)

  private val Batches = 13

  private def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum

  private def internalRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(
      _.customMetrics.get("rocksdbNumInternalColFamiliesKeys").longValue)).sum

  /** Feed one key `Batches` micro-batches through `op`; after the last,
    * the key holds its value, its armed deadline, one timer and
    * `buffered` buffer rows. */
  private def churn[T: Encoder](name: String, buffered: Int,
      feed: Int => Seq[T])(op: Dataset[T] => Dataset[_]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = op(input.toDS()).writeStream.format("memory")
      .queryName(s"churn_${name}_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      (0 until Batches).foreach { i =>
        input.addData(feed(i))
        q.processAllAvailable()
      }
      val (rows, internal) = (stateRows(q), internalRows(q))
      assert(rows <= 2 + buffered,
        s"$name: $rows state rows after $Batches batches")
      assert(internal <= 2 + math.min(buffered, 1),
        s"$name: $internal timer and counter rows after $Batches batches")
    } finally q.stop()
  }

  test("every keyed step holds one key's state rows at its per-key " +
    "bound through re-arms, a size flush, a flap and a delete") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      // each event opens a new interval: the tick timer moves every batch
      churn("rate", 0, i => Seq(ev("ok", 1000 + 3 * i)))(
        StreamingRate(_, 1))
      // one event per period: each opens a period and re-arms its timer
      churn("rollup", 0, i => Seq(ev("ok", 1000 + 3 * i)))(
        StreamingRollup(_, n = 1, dtSeconds = 2))
      // flaps re-arm probation, proofs retire it; one buffered event
      churn("stable", 1, i =>
        Seq(ev(if (i % 3 == 0) "bad" else "ok", 1000 + 3 * i)))(
        StreamingStable(_, 2))
      // every second event size-flushes and retires the dt timer; the
      // odd last one leaves one buffered event, count and timer
      churn("batch", 1, i => Seq(ev("ok", 1000 + i)))(
        StreamingBatch(_, n = 2, dtSeconds = 1000))
      // each insert moves the ttl deadline; every fourth is a delete
      churn("index", 0, i =>
        Seq(if (i % 4 == 3) ev("delete", 1000 + i)
          else ev("ok", 1000 + i, Some(100.0))))(
        KeyedIndex(_, deleteState = Some("delete")))
      // one gram, seen again every batch: its quiet-period timer moves;
      // each document's text carrier is a stateless key of its own
      val span = (1 to 8).map(w => s"w$w").mkString(" ")
      churn("substring", 0, i => Seq((i.toLong, span, ts(1000 + i))))(
        d => StreamingSubstringDedup.marks(d.toDF("doc_id", "text", "time"),
          "time", minLen = 8))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
