package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StreamingRollup, WireEvent}

/** Streaming rollup: pass n per period, buffer the overflow, deliver
  * the buffered vector when the period's timer fires
  * (streams.clj:1120-1156, streams_test.clj rollup-test). */
class RollupProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(host: String, m: Double, t: Long, svc: String = "alerts") =
    SEvent(host, svc, "critical", Some(m), ts(t), None)

  test("rollup passes n per period and flushes the overflow on the timer") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingRollup(input.toDS(), n = 2, dtSeconds = 100)
        .writeStream.format("memory").queryName("ru").outputMode("append")
        .start()
      try {
        // period anchored at 1000: metrics 1,2 pass; 3,4 buffer
        input.addData(ev("a", 1, 1000), ev("a", 2, 1010),
          ev("a", 3, 1020), ev("a", 4, 1030))
        q.processAllAvailable()
        // a DIFFERENT key's events advance the (global) watermark past
        // 1000+100, firing the quiescent key's period timer
        input.addData(ev("zz", 9, 1300, svc = "other"))
        q.processAllAvailable()
        input.addData(ev("zz", 9, 1301, svc = "other"))
        q.processAllAvailable()
        val out = spark.table("ru").as[StreamingRollup.Emission].collect()
          .filter(_.key == "alerts")
        val passed = out.filter(!_.rolled).flatMap(_.events)
          .flatMap(_.metric).sorted.toSeq
        assert(passed == Seq(1.0, 2.0))
        val flushes = out.filter(_.rolled)
        assert(flushes.length == 1)
        // one vector emission carrying the whole overflow, in order
        assert(flushes.head.events.flatMap(_.metric).toSeq == Seq(3.0, 4.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("rollover drains the previous period's overflow before opening a new one") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingRollup(input.toDS(), n = 1, dtSeconds = 100)
        .writeStream.format("memory").queryName("ru3").outputMode("append")
        .start()
      try {
        // one trigger carries both periods: the watermark still lags the
        // first period's end when e@1150 opens the next one, so the
        // rollover itself must deliver [2.0] — never merge it with 4.0
        input.addData(ev("a", 1, 1000), ev("a", 2, 1050),
          ev("a", 3, 1150), ev("a", 4, 1160))
        q.processAllAvailable()
        input.addData(ev("zz", 9, 1400, svc = "other"))
        q.processAllAvailable()
        input.addData(ev("zz", 9, 1401, svc = "other"))
        q.processAllAvailable()
        val out = spark.table("ru3").as[StreamingRollup.Emission].collect()
          .filter(_.key == "alerts").sortBy(_.emitted_at.getTime)
        val flushes = out.filter(_.rolled)
        assert(flushes.map(_.events.flatMap(_.metric).toSeq).toSeq
          == Seq(Seq(2.0), Seq(4.0)))
        assert(out.filter(!_.rolled).flatMap(_.events).flatMap(_.metric)
          .sorted.toSeq == Seq(1.0, 3.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("a new period opens after the previous one closes; no flush when nothing buffered") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingRollup(input.toDS(), n = 2, dtSeconds = 100)
        .writeStream.format("memory").queryName("ru2").outputMode("append")
        .start()
      try {
        input.addData(ev("a", 1, 1000)) // under the cap: nothing buffers
        q.processAllAvailable()
        input.addData(ev("zz", 9, 1300, svc = "other"))
        q.processAllAvailable()
        input.addData(ev("zz", 9, 1301, svc = "other"))
        q.processAllAvailable()
        // next event opens a fresh period and passes immediately
        input.addData(ev("a", 5, 1400))
        q.processAllAvailable()
        val out = spark.table("ru2").as[StreamingRollup.Emission].collect()
          .filter(_.key == "alerts")
        assert(out.forall(!_.rolled)) // no overflow ever buffered
        assert(out.flatMap(_.events).flatMap(_.metric).sorted.toSeq
          == Seq(1.0, 5.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
