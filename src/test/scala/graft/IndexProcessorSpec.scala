package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{IndexStep, KeyedIndex, SEvent, StreamingStable,
  WireEvent}

/** transformWithState index: same reaper golden case as the
  * flatMapGroupsWithState form, on the modern API with per-key timers
  * and the RocksDB state store. */
class IndexProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(host: String, service: String, state: String, m: Double,
      t: Long, ttl: Option[Double] = None) =
    SEvent(host, service, state, Some(m), ts(t), ttl)

  test("transformWithState index: inserts then reaper expiry (SURVEY §2.9)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = KeyedIndex(input.toDS())
        .writeStream.format("memory").queryName("tws").outputMode("append")
        .start()
      try {
        input.addData(
          ev("a", "cpu", "ok", 1.0, 100, Some(10.0)),
          ev("b", "cpu", "ok", 2.0, 100, Some(1000.0)))
        q.processAllAvailable()
        input.addData(ev("b", "cpu", "ok", 3.0, 500, Some(1000.0)))
        q.processAllAvailable()
        input.addData(ev("b", "cpu", "ok", 4.0, 600, Some(1000.0)))
        q.processAllAvailable()
        val rows = spark.table("tws").as[WireEvent].collect()
        val expired = rows.filter(_.state == "expired")
        assert(expired.map(e => (e.host, e.service)).toSeq == Seq(("a", "cpu")))
        // reaper default :keep-keys [host service] (core.clj:295): the
        // expired copy drops the metric and ttl payload
        assert(expired.head.metric.isEmpty && expired.head.ttl.isEmpty)
        assert(rows.count(e => e.host == "b" && e.state == "ok") == 3)
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState index: keep-keys :all preserves the payload; deletes drop keys (core_test reaper-keep-keys-all, config_test delete-from-index)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = KeyedIndex(input.toDS(), keepKeys = IndexStep.All,
        deleteState = Some("delete"))
        .writeStream.format("memory").queryName("twsall").outputMode("append")
        .start()
      try {
        input.addData(
          ev("a", "cpu", "ok", 1.0, 100, Some(10.0)),
          ev("b", "cpu", "ok", 2.0, 100, Some(50.0)))
        q.processAllAvailable()
        // delete b BEFORE its 150 s deadline: the armed timer will
        // still fire, but the state is gone, so no expiry is emitted —
        // deletion must beat the reaper
        input.addData(ev("b", "cpu", "delete", 0.0, 120, None))
        q.processAllAvailable()
        input.addData(ev("c", "cpu", "ok", 3.0, 500, Some(1000.0)))
        q.processAllAvailable()
        input.addData(ev("c", "cpu", "ok", 4.0, 600, Some(1000.0)))
        q.processAllAvailable()
        val rows = spark.table("twsall").as[WireEvent].collect()
        val expired = rows.filter(_.state == "expired")
        // only a expires (b was deleted before its ttl could lapse);
        // :all keeps a's metric and ttl on the expired copy
        assert(expired.map(e => (e.host, e.service)).toSeq == Seq(("a", "cpu")))
        assert(expired.head.metric.contains(1.0) &&
          expired.head.ttl.contains(10.0))
        // the delete tombstone itself is not re-emitted downstream
        assert(!rows.exists(_.state == "delete"))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState index: delete disarms the timer, re-insert re-arms " +
    "and expires cleanly (r5 advisory: armed state mirrors the registered timer)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = KeyedIndex(input.toDS(), deleteState = Some("delete"))
        .writeStream.format("memory").queryName("twsrearm")
        .outputMode("append").start()
      try {
        // insert (arms a timer at 110), delete (must DISARM it, not
        // just clear the armed record), re-insert with a new ttl —
        // the re-registration must be clean and the key must expire
        // exactly once at the NEW deadline
        input.addData(ev("a", "cpu", "ok", 1.0, 100, Some(10.0)))
        q.processAllAvailable()
        input.addData(ev("a", "cpu", "delete", 0.0, 101, None))
        q.processAllAvailable()
        input.addData(ev("a", "cpu", "ok", 2.0, 102, Some(50.0)))
        q.processAllAvailable()
        // watermark past the OLD deadline (110) but before the new one
        // (152): nothing may expire — an orphaned first timer would
        // fire here against live state and, pre-fix, log duplicate
        // registration warnings on the path above
        input.addData(ev("w", "other", "ok", 0.0, 130))
        q.processAllAvailable()
        input.addData(ev("w", "other", "ok", 0.0, 131))
        q.processAllAvailable()
        val mid = spark.table("twsrearm").as[WireEvent].collect()
        assert(!mid.exists(e => e.host == "a" && e.state == "expired"),
          "expired before the re-inserted ttl's deadline")
        // now pass the new deadline: exactly one expiry, for the
        // re-inserted event
        input.addData(ev("w", "other", "ok", 0.0, 200))
        q.processAllAvailable()
        input.addData(ev("w", "other", "ok", 0.0, 201))
        q.processAllAvailable()
        val expired = spark.table("twsrearm").as[WireEvent].collect()
          .filter(e => e.host == "a" && e.state == "expired")
        assert(expired.length == 1, s"got ${expired.length} expiries")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState index: equal-time ties resolve by a total order, " +
    "not arrival order (r6 advisory: metric None != Some(0.0), ttl breaks ties)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      // two events identical on the old (time, metric-or-0, state)
      // triple: metric None vs Some(0.0), and differing only in ttl —
      // pre-fix their winner was shuffle-arrival order
      val eNone = SEvent("a", "cpu", "ok", None, ts(100), Some(7.0))
      val eZero = SEvent("a", "cpu", "ok", Some(0.0), ts(100), None)
      def winner(order: Seq[WireEvent], name: String): WireEvent = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[WireEvent]
        val q = KeyedIndex(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          input.addData(order: _*)
          q.processAllAvailable()
          val rows = spark.table(name).as[WireEvent].collect()
          assert(rows.length == 1)
          rows.head
        } finally q.stop()
      }
      val w1 = winner(Seq(eNone, eZero), "twstie1")
      val w2 = winner(Seq(eZero, eNone), "twstie2")
      // metric presence ranks above absence: Some(0.0) wins both ways
      assert(w1 == w2)
      assert(w1.metric.contains(0.0) && w1.ttl.isEmpty)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState stable: probation buffer flushes on proof or timer (streams.clj:1936-2030)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingStable(input.toDS(), 50)
        .writeStream.format("memory").queryName("stbl").outputMode("append")
        .start()
      try {
        // (times start off zero: a t=0 event equals the initial
        // watermark and would be dropped as late input)
        // ok@1000 buffered; ok@1100 proves 100s>=50s -> both delivered
        input.addData(ev("a", "s", "ok", 1, 1000), ev("a", "s", "ok", 2, 1100))
        q.processAllAvailable()
        // flap: bad@1110 then ok@1120 discards the bad buffer
        input.addData(ev("a", "s", "bad", 3, 1110), ev("a", "s", "ok", 4, 1120))
        q.processAllAvailable()
        // quiet period: another key's events advance the watermark past
        // 1120+50, firing the timer -> ok@1120 flushes without a new event
        input.addData(ev("z", "other", "ok", 9, 1300))
        q.processAllAvailable()
        input.addData(ev("z", "other", "ok", 9, 1301))
        q.processAllAvailable()
        val got = spark.table("stbl").as[WireEvent].collect()
          .filter(_.host == "a").sortBy(_.metric)
          .map(e => (e.state, e.metric.get)).toSeq
        // metric payloads survive; times are delivery-stamped
        assert(got == Seq(("ok", 1.0), ("ok", 2.0), ("ok", 4.0)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
