package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StatefulOps, StreamingIndex, WireEvent}

/** MemoryStream-driven golden tests for the streaming slice — the
  * Structured Streaming analog of run-stream/advance! virtual time
  * (src/riemann/time/controlled.clj, src/riemann/test.clj:206-241):
  * event-time is driven through the data, watermark advancement through
  * successive micro-batches. */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def ev(host: String, service: String, state: String, m: Double,
      t: Long, ttl: Option[Double] = None) =
    SEvent(host, service, state, Some(m), ts(t), ttl)

  test("streaming index: inserts then reaper expiry (index.clj:73-87, core.clj:276-309)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingIndex(input.toDS())
      .writeStream.format("memory").queryName("idx").outputMode("append")
      .start()
    try {
      // batch 1: two keys, one with a short ttl
      input.addData(
        ev("a", "cpu", "ok", 1.0, 100, Some(10.0)),
        ev("b", "cpu", "ok", 2.0, 100, Some(1000.0)))
      q.processAllAvailable()
      // batch 2: advance event time far past a's deadline (110)
      input.addData(ev("b", "cpu", "ok", 3.0, 500, Some(1000.0)))
      q.processAllAvailable()
      // batch 3: one more trigger so the timeout (armed vs watermark 500) fires
      input.addData(ev("b", "cpu", "ok", 4.0, 600, Some(1000.0)))
      q.processAllAvailable()
      val rows = spark.table("idx").as[WireEvent].collect()
      val expired = rows.filter(_.state == "expired")
      assert(expired.map(e => (e.host, e.service)).toSeq == Seq(("a", "cpu")))
      // inserts for both keys flowed through before expiry
      assert(rows.exists(e => e.host == "a" && e.state == "ok"))
      assert(rows.count(e => e.host == "b" && e.state == "ok") == 3)
    } finally q.stop()
  }

  test("streaming index: a newer ttl-less event cancels a stale expiry timer") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingIndex(input.toDS())
      .writeStream.format("memory").queryName("idx2").outputMode("append")
      .start()
    try {
      // A arms a timer (deadline 110); then a newer ttl-less event for
      // the SAME key becomes latest — the key must become immortal
      input.addData(ev("a", "cpu", "ok", 1.0, 100, Some(10.0)))
      q.processAllAvailable()
      input.addData(ev("a", "cpu", "ok", 2.0, 105, None))
      q.processAllAvailable()
      input.addData(ev("b", "cpu", "ok", 3.0, 500, Some(1000.0))) // wm -> 500
      q.processAllAvailable()
      input.addData(ev("b", "cpu", "ok", 4.0, 600, Some(1000.0))) // fire timers
      q.processAllAvailable()
      val rows = spark.table("idx2").as[WireEvent].collect()
      assert(!rows.exists(e => e.host == "a" && e.state == "expired"),
        s"ttl-less latest event was falsely expired: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming changed-state passes transitions only (streams.clj:1614-1659)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.changedState(input.toDS())
      .writeStream.format("memory").queryName("chg").outputMode("append")
      .start()
    try {
      input.addData(
        ev("a", "s", "ok", 1, 1), ev("a", "s", "ok", 2, 2),
        ev("a", "s", "bad", 3, 3))
      q.processAllAvailable()
      input.addData(ev("a", "s", "bad", 4, 4), ev("a", "s", "ok", 5, 5))
      q.processAllAvailable()
      val states = spark.table("chg").as[WireEvent].collect()
        .sortBy(_.time.getTime).map(e => (e.state, e.time.getTime / 1000)).toSeq
      assert(states == Seq(("ok", 1L), ("bad", 3L), ("ok", 5L)))
    } finally q.stop()
  }

  test("streaming ewma-timeless matches batch closed form (streams.clj:961-977)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.ewmaTimeless(input.toDS(), 0.5)
      .writeStream.format("memory").queryName("ew").outputMode("append")
      .start()
    try {
      input.addData(ev("a", "s", "ok", 1, 1), ev("a", "s", "ok", 1, 2))
      q.processAllAvailable()
      input.addData(ev("a", "s", "ok", 1, 3))
      q.processAllAvailable()
      val ms = spark.table("ew").as[WireEvent].collect()
        .sortBy(_.time.getTime).flatMap(_.metric).toSeq
      assert(ms == Seq(0.5, 0.75, 0.875)) // state survives across batches
    } finally q.stop()
  }

  test("streaming top-k passes leaders, mirrors demotions (streams.clj:1015-1100)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.top(input.toDS(), 2)
      .writeStream.format("memory").queryName("top").outputMode("append").start()
    try {
      input.addData(ev("a", "s", "ok", 10, 1), ev("b", "s", "ok", 5, 2))
      q.processAllAvailable()
      // c (20) displaces b from the top-2? no - k=2, {a:10, c:20} after c
      input.addData(ev("c", "s", "ok", 20, 3), ev("d", "s", "ok", 7, 4))
      q.processAllAvailable()
      val rows = spark.table("top").as[WireEvent].collect().sortBy(_.time.getTime)
      // a, b pass (both in top-2); c passes and demotes b (expired mirror);
      // d (7 < a:10) does not pass
      val passed = rows.filter(_.state == "ok").map(_.host).toSeq
      val demoted = rows.filter(_.state == "expired").map(_.host).toSeq
      assert(passed == Seq("a", "b", "c"))
      assert(demoted == Seq("b"))
    } finally q.stop()
  }

  test("streaming sreduce carries the accumulator (streams.clj:206-250)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.sreduce(input.toDS(), 0.0, _ + _)
      .writeStream.format("memory").queryName("sr").outputMode("append").start()
    try {
      input.addData(ev("a", "s", "ok", 1, 1), ev("a", "s", "ok", 2, 2))
      q.processAllAvailable()
      input.addData(ev("a", "s", "ok", 3, 3))
      q.processAllAvailable()
      val ms = spark.table("sr").as[WireEvent].collect()
        .sortBy(_.time.getTime).flatMap(_.metric).toSeq
      assert(ms == Seq(1.0, 3.0, 6.0))
    } finally q.stop()
  }

  test("streaming ddt differentiates across batches (streams_test.clj ddt-immediate-test)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.ddt(input.toDS())
      .writeStream.format("memory").queryName("ddt").outputMode("append")
      .start()
    try {
      // golden table [{0@10} {0@11} {2@12}] then cross-batch {-4@14}
      input.addData(ev("a", "s", "ok", 0, 10), ev("a", "s", "ok", 0, 11),
        ev("a", "s", "ok", 2, 12))
      q.processAllAvailable()
      input.addData(ev("a", "s", "ok", -4, 14)) // state survives the batch gap
      q.processAllAvailable()
      // a late straggler from before the last event must neither emit a
      // negative-Δt derivative nor regress the remembered state
      input.addData(ev("a", "s", "ok", 100, 13))
      q.processAllAvailable()
      input.addData(ev("a", "s", "ok", -4, 16)) // Δ=0 over 14→16
      q.processAllAvailable()
      val got = spark.table("ddt").as[WireEvent].collect()
        .sortBy(_.time.getTime).map(e => (e.time.getTime / 1000, e.metric.get))
      assert(got.toSeq == Seq((11L, 0.0), (12L, 2.0), (14L, -3.0), (16L, 0.0)))
    } finally q.stop()
  }

  test("streaming fixed/moving event windows buffer per key (streams.clj:292-320)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.fixedEventWindow(input.toDS(), 2)
      .writeStream.format("memory").queryName("few").outputMode("append")
      .start()
    val input2 = MemoryStream[WireEvent]
    val q2 = StatefulOps.movingEventWindow(input2.toDS(), 2)
      .writeStream.format("memory").queryName("mew").outputMode("append")
      .start()
    try {
      input.addData(ev("a", "s", "ok", 1, 10), ev("a", "s", "ok", 2, 20),
        ev("a", "s", "ok", 3, 30))
      q.processAllAvailable()
      input.addData(ev("a", "s", "ok", 4, 40)) // completes across batches
      q.processAllAvailable()
      val fixed = spark.table("few").as[Seq[WireEvent]].collect()
        .map(_.flatMap(_.metric).toSeq).sortBy(_.head)
      assert(fixed.toSeq == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))

      input2.addData(ev("a", "s", "ok", 1, 10), ev("a", "s", "ok", 2, 20),
        ev("a", "s", "ok", 3, 30))
      q2.processAllAvailable()
      val moving = spark.table("mew").as[Seq[WireEvent]].collect()
        .map(_.flatMap(_.metric).toSeq).sortBy(_.last)
      assert(moving.toSeq == Seq(Seq(1.0), Seq(1.0, 2.0), Seq(2.0, 3.0)))
    } finally { q.stop(); q2.stop() }
  }

  test("streaming moving-time-window: horizon pruning + late drops (streams_test.clj)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.movingTimeWindow(input.toDS(), 2)
      .writeStream.format("memory").queryName("mtw").outputMode("append")
      .start()
    try {
      // reference golden: [5 1 2 6 3 8 4 8' 5 9] -> windows at 5,6,8,8',9
      // (metric disambiguates the two t=8 events); one event per
      // trigger preserves the reference's ARRIVAL order — the per-batch
      // event-time sort would otherwise re-order the stragglers
      val arrival = Seq(
        ev("a", "s", "ok", 50, 5), ev("a", "s", "ok", 10, 1),
        ev("a", "s", "ok", 20, 2), ev("a", "s", "ok", 60, 6),
        ev("a", "s", "ok", 30, 3), ev("a", "s", "ok", 80, 8),
        ev("a", "s", "ok", 40, 4), ev("a", "s", "ok", 81, 8),
        ev("a", "s", "ok", 51, 5), ev("a", "s", "ok", 90, 9))
      arrival.foreach { e => input.addData(e); q.processAllAvailable() }
      val got = spark.table("mtw").as[Seq[WireEvent]].collect()
        .map(_.flatMap(_.metric).toSeq).sortBy(w => (w.max, w.length))
      assert(got.toSeq == Seq(Seq(50.0), Seq(50.0, 60.0), Seq(80.0),
        Seq(80.0, 81.0), Seq(80.0, 81.0, 90.0)))
    } finally q.stop()
  }

  test("streaming throttle caps per bucket across batches (streams.clj:1102-1118)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.throttle(input.toDS(), 2, 100)
      .writeStream.format("memory").queryName("thr").outputMode("append")
      .start()
    try {
      input.addData(ev("a", "s", "ok", 1, 10), ev("a", "s", "ok", 2, 20))
      q.processAllAvailable()
      // same bucket, already full — dropped even in a later batch
      input.addData(ev("a", "s", "ok", 3, 30))
      q.processAllAvailable()
      // new bucket
      input.addData(ev("a", "s", "ok", 4, 110))
      q.processAllAvailable()
      val ms = spark.table("thr").as[WireEvent].collect()
        .sortBy(_.time.getTime).flatMap(_.metric).toSeq
      assert(ms == Seq(1.0, 2.0, 4.0))
    } finally q.stop()
  }
}
