package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Streams, Windows}
import graft.operators.Streams.EventOps
import graft.streaming.{SEvent, StatefulOps, WireEvent}

/** Fifth tranche of golden cases ported from the reference stream tests
  * (test/riemann/streams_test.clj): moving-time-window's arrival-order
  * horizon rule, counter init/reset, throttle windows, changed with
  * :init (+ the :pairs? previous-value), and the polymorphic matcher's
  * set / nil cases. */
class GoldenStreams2Spec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("moving-time-window: out-of-order arrivals vs the horizon (moving-time-window-test)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.movingTimeWindow(input.toDS(), 2)
      .map(w => w.map(_.time.getTime / 1000))
      .writeStream.format("memory").queryName("mtw").outputMode("append")
      .start()
    try {
      // one event per micro-batch: the reference's semantics depend on
      // ARRIVAL order (test-stream feeds events one at a time), and the
      // processor sorts within a batch by event time
      for (t <- Seq(5L, 1L, 2L, 6L, 3L, 8L, 4L, 8L, 5L, 9L)) {
        input.addData(SEvent("h", "s", "ok", Some(1.0), ts(t), None))
        q.processAllAvailable()
      }
      val wins = spark.table("mtw").as[Seq[Long]].collect().toSeq
        .sortBy(w => (w.max, w.size))
      // late events (1,2 after 5; 3 after 6; 4,5 after 8) emit nothing
      assert(wins == Seq(Seq(5), Seq(5, 6), Seq(8), Seq(8, 8), Seq(8, 8, 9)))
    } finally q.stop()
  }

  test("moving-time-window: zero-width windows emit nothing (moving-time-window-test)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.movingTimeWindow(input.toDS(), 0)
      .map(_.size)
      .writeStream.format("memory").queryName("mtw0").outputMode("append")
      .start()
    try {
      input.addData(
        SEvent("h", "s", "ok", Some(1.0), ts(1), None),
        SEvent("h", "s", "ok", Some(1.0), ts(2), None))
      q.processAllAvailable()
      assert(spark.table("mtw0").count() == 0)
    } finally q.stop()
  }

  test("counter: counts, init offset, metric-less passthrough (counter-test)") {
    // (counter 100) on [{:metric 2} {} {:metric 3}] -> [102, {}, 105]
    val df = events(
      E(id = 1, metric = 2.0, time = 0L),
      E(id = 2, time = 1L),
      E(id = 3, metric = 3.0, time = 2L))
    val out = Windows.counter(df, Seq("host"), init = 100.0)
      .orderBy("event_id")
      .select("event_id", "running_sum", "metric").collect()
    assert(out.map(r => r.getLong(0) -> r.getDouble(1)).toSeq ==
      Seq(1L -> 102.0, 2L -> 102.0, 3L -> 105.0))
    // the metric-less event itself passes through unchanged
    assert(out(1).isNullAt(2))
  }

  test("counter: a LEADING metric-less event sees the seeded count, not NULL") {
    // the counter atom holds init while metric-less events pass through
    // (streams.clj:920-931) — the running count at event 1 is 100, not
    // NULL (the segment sum is empty there; coalesce keeps init visible)
    val df = events(
      E(id = 1, time = 0L),
      E(id = 2, metric = 2.0, time = 1L))
    val out = Windows.counter(df, Seq("host"), init = 100.0)
      .orderBy("event_id")
      .select("running_sum").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(100.0, 102.0))
  }

  test("counter: the reset tag restarts the count at the reset metric (counter-test resets)") {
    // (counter 100) on [{:metric 1} {:metric 200 :tags [reset]} {:metric 5}]
    //   -> [101, 200, 205]: init applies before the reset only
    val df = events(
      E(id = 1, metric = 1.0, time = 0L),
      E(id = 2, metric = 200.0, tags = Seq("reset"), time = 1L),
      E(id = 3, metric = 5.0, time = 2L))
    val out = Windows.counter(df, Seq("host"), init = 100.0)
      .orderBy("event_id")
      .select("running_sum").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(101.0, 200.0, 205.0))
  }

  test("throttle passes n per dt window and drops the rest (throttle-test)") {
    // throttle 3 2 over times [0 0 0 1 2 3 3 3 5]: the 4th event of
    // window [0,2) and the 4th of [2,4) drop; [4,6) restarts
    val df = events(
      E(id = 1, time = 0L), E(id = 2, time = 0L), E(id = 3, time = 0L),
      E(id = 4, time = 1L), E(id = 5, time = 2L), E(id = 6, time = 3L),
      E(id = 7, time = 3L), E(id = 8, time = 3L), E(id = 9, time = 5L))
    assert(ids(Windows.throttle(df, 3, 2, Seq("host")))
      == Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L))
  }

  test("changed golden tables incl. :init and :pairs? (changed-test)") {
    def states(ss: Seq[String]) = events(
      ss.zipWithIndex.map { case (st, i) =>
        E(id = i + 1, state = st, time = i.toLong)
      }: _*)
    // (changed :state): [ok bad bad ok ok ok evil bad] -> [ok bad ok evil bad]
    val plain = states(Seq("ok", "bad", "bad", "ok", "ok", "ok", "evil", "bad"))
    assert(ids(Windows.changed(plain, "state", Seq("host")))
      == Seq(1L, 2L, 4L, 7L, 8L))
    // (changed :state {:init :ok}): [ok bad bad ok ok evil bad] -> [bad ok evil bad]
    val withInit = states(Seq("ok", "bad", "bad", "ok", "ok", "evil", "bad"))
    val changed = Windows.changed(withInit, "state", Seq("host"), Some("ok"))
      .orderBy("event_id")
    assert(ids(changed) == Seq(2L, 4L, 6L, 7L))
    // :pairs? true — each transition carries the previous value:
    // (partition 2 1 [ok bad ok evil bad])
    val pairs = changed.select("prev_value", "state").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs == Seq("ok" -> "bad", "bad" -> "ok", "ok" -> "evil",
      "evil" -> "bad"))
  }

  test("match: set membership and nil patterns (match-test)") {
    // (match :metric #{0 2}) passes only metric 2 of [nil 1 2]
    val dfm = events(
      E(id = 1, time = 0L), E(id = 2, metric = 1.0, time = 1L),
      E(id = 3, metric = 2.0, time = 2L))
    assert(ids(dfm.matching("metric", Seq(0.0, 2.0))) == Seq(3L))
    // (match :host nil) passes events with a missing host
    val dfn = events(
      E(id = 1, host = null, time = 0L), E(id = 2, host = "foo", time = 1L))
    assert(ids(dfn.matching("host", null)) == Seq(1L))
    // empty set matches nothing (reduceOption over zero alternatives)
    assert(ids(dfm.matching("metric", Seq.empty[Any])) == Seq.empty)
  }
}
