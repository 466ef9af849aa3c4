package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{CombineStreams, SEvent, WireEvent}

/** Golden cases for streaming coalesce / project / fill-in. */
class CombineStreamsSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(host: String, service: String, m: Double, t: Long,
      ttl: Option[Double] = None) =
    SEvent(host, service, "ok", Some(m), ts(t), ttl)

  test("streaming coalesce emits the remembered set; expired emitted once (streams.clj:1187-1241)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.coalesce(input.toDS())
      .writeStream.format("memory").queryName("co").outputMode("append").start()
    try {
      input.addData(ev("a", "cpu", 1.0, 100, Some(50.0)), ev("b", "cpu", 2.0, 100))
      q.processAllAvailable()
      input.addData(ev("b", "cpu", 3.0, 200)) // a's ttl (50s) lapses vs t=200
      q.processAllAvailable()
      input.addData(ev("b", "cpu", 4.0, 300))
      q.processAllAvailable()
      val snaps = spark.table("co").as[CombineStreams.Snapshot].collect()
        .sortBy(_.emitted_at.getTime)
      assert(snaps.length == 3)
      assert(snaps(0).events.map(e => (e.host, e.metric.get)).toSet ==
        Set(("a", 1.0), ("b", 2.0)))
      // second snapshot: a expired — emitted once UNCHANGED (the
      // reference's coalesce-test asserts set equality with the
      // original event) — and b updated
      val s1 = snaps(1).events.map(e => (e.host, e.state, e.metric.get)).toSet
      assert(s1 == Set(("a", "ok", 1.0), ("b", "ok", 3.0)))
      // third: a gone for good
      assert(snaps(2).events.map(_.host).toSeq == Seq("b"))
    } finally q.stop()
  }

  test("streaming project re-emits the basis on any slot update (streams.clj:2032-2101)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.project(input.toDS(), Seq(
      e => e.service == "enq", e => e.service == "deq"))
      .writeStream.format("memory").queryName("pj").outputMode("append").start()
    try {
      input.addData(ev("h", "enq", 10.0, 1))
      q.processAllAvailable()
      input.addData(ev("h", "deq", 5.0, 2), ev("h", "other", 9.0, 3))
      q.processAllAvailable()
      val bases = spark.table("pj").as[CombineStreams.Basis].collect()
      assert(bases.length == 2) // 'other' matched nothing -> no emission
      val last = bases.map(b => b.slots.map(_.map(_.metric.get)))
        .maxBy(_.flatten.sum)
      assert(last == Seq(Some(10.0), Some(5.0)))
    } finally q.stop()
  }

  test("streaming fill-in fills gaps even when events resume in the same trigger") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.fillIn(input.toDS(), 10, 0.0)
      .writeStream.format("memory").queryName("fi2").outputMode("append").start()
    try {
      // one batch contains the gap AND the resuming event: output must be
      // identical to the cross-trigger case (determinism under replay)
      input.addData(ev("a", "hb", 5.0, 100))
      q.processAllAvailable()
      input.addData(ev("a", "hb", 7.0, 135))
      q.processAllAvailable()
      val rows = spark.table("fi2").as[WireEvent].collect()
        .filter(_.host == "a").sortBy(_.time.getTime)
      // fillers at 110,120,130 synthesized inline, then the real event
      assert(rows.map(e => (e.time.getTime / 1000, e.metric.get)).toSeq ==
        Seq((100L, 5.0), (110L, 0.0), (120L, 0.0), (130L, 0.0), (135L, 7.0)))
    } finally q.stop()
  }

  test("streaming fill-in synthesizes events for empty intervals (streams.clj:683-719)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.fillIn(input.toDS(), 10, 0.0)
      .writeStream.format("memory").queryName("fi").outputMode("append").start()
    try {
      input.addData(ev("a", "hb", 5.0, 100))
      q.processAllAvailable()
      // another key's events advance the watermark to 140
      input.addData(ev("zz", "other", 1.0, 140))
      q.processAllAvailable()
      input.addData(ev("zz", "other", 1.0, 141)) // extra trigger fires timers
      q.processAllAvailable()
      val rows = spark.table("fi").as[WireEvent].collect()
        .filter(_.host == "a").sortBy(_.time.getTime)
      // original at 100 plus fillers at 110..140 (the 130-140 interval
      // completes exactly at the watermark)
      assert(rows.map(_.time.getTime / 1000).toSeq ==
        Seq(100L, 110L, 120L, 130L, 140L))
      assert(rows.tail.forall(_.metric.contains(0.0)))
    } finally q.stop()
  }

  test("coalesce golden sequence with ttl expiry (streams_test.clj coalesce-test)") {
    // a1/b1/a2/c1/b2: a2 carries ttl 2 and is emitted once more (as
    // itself) after lapsing, then drops; times adapted to event time
    // (the port rule: virtual-clock advances become event times)
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    def se(service: String, state: String, t: Long, ttl: Option[Double] = None) =
      SEvent("h", service, state, Some(1.0), ts(t), ttl)
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.coalesce(input.toDS())
      .writeStream.format("memory").queryName("cogold").outputMode("append")
      .start()
    try {
      for (e <- Seq(
        se("a", "one", 0),                 // -> {a1}
        se("b", "one", 1),                 // -> {a1 b1}
        se("a", "two", 3, Some(2.0)),      // -> {a2 b1}
        se("c", "one", 6),                 // a2 lapsed: -> {a2 b1 c1}, a2 drops
        se("b", "two", 7))) {              // -> {b2 c1}
        input.addData(e)
        q.processAllAvailable()
      }
      val snaps = spark.table("cogold").as[CombineStreams.Snapshot]
        .collect().sortBy(_.emitted_at.getTime)
        .map(_.events.map(e => (e.service, e.state)).toSet)
      assert(snaps.toSeq == Seq(
        Set(("a", "one")),
        Set(("a", "one"), ("b", "one")),
        Set(("a", "two"), ("b", "one")),
        Set(("a", "two"), ("b", "one"), ("c", "one")), // expired a2: once, as-is
        Set(("b", "two"), ("c", "one"))))
    } finally q.stop()
  }

  test("project passes initially-expired events once, stripped (project-test)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    def se(service: String, state: String, t: Long, ttl: Option[Double] = None) =
      SEvent("h", service, state, Some(1.0), ts(t), ttl)
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.project(input.toDS(), Seq(
      e => e.service == "foo", e => e.service == "bar"))
      .writeStream.format("memory").queryName("pjexp").outputMode("append")
      .start()
    try {
      for (e <- Seq(
        se("foo", "expired", 1),
        se("foo", "expired", 2),
        se("cat", "ok", 3))) {
        input.addData(e); q.processAllAvailable()
      }
      val bases = spark.table("pjexp").as[CombineStreams.Basis].collect()
        .map(_.slots.map(_.map(s => (s.service, s.state, s.metric))))
      // each expired foo emits once as the STRIPPED expire copy
      // (common.clj:119-124: host+service only), never retained; cat
      // matches nothing and emits nothing
      assert(bases.toSeq == Seq(
        Seq(Some(("foo", "expired", None)), None),
        Seq(Some(("foo", "expired", None)), None)))
    } finally q.stop()
  }

  test("project expires existing slots: emitted once then cleared (project-test)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    def se(service: String, state: String, t: Long, ttl: Option[Double] = None) =
      SEvent("h", service, state, Some(1.0), ts(t), ttl)
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.project(input.toDS(), Seq(
      e => e.service == "foo", e => e.service == "bar"))
      .writeStream.format("memory").queryName("pjexp2").outputMode("append")
      .start()
    try {
      for (e <- Seq(
        se("foo", "ok", 1),
        se("bar", "ok", 2),
        se("bar", "expired", 3),
        se("foo", "expired", 4),
        se("bar", "expired", 5))) {
        input.addData(e); q.processAllAvailable()
      }
      val bases = spark.table("pjexp2").as[CombineStreams.Basis].collect()
        .map(_.slots.map(_.map(s => (s.service, s.state))))
      assert(bases.toSeq == Seq(
        Seq(Some(("foo", "ok")), None),
        Seq(Some(("foo", "ok")), Some(("bar", "ok"))),
        Seq(Some(("foo", "ok")), Some(("bar", "expired"))),
        Seq(Some(("foo", "expired")), None),
        Seq(None, Some(("bar", "expired")))))
    } finally q.stop()
  }

  test("project expires held slots by ttl when event-time advances (project-test intervals)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    def se(service: String, state: String, t: Long, ttl: Option[Double] = None) =
      SEvent("h", service, state, Some(1.0), ts(t), ttl)
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.project(input.toDS(), Seq(
      e => e.service == "foo", e => e.service == "bar"))
      .writeStream.format("memory").queryName("pjttl").outputMode("append")
      .start()
    try {
      for (e <- Seq(
        se("foo", "ok", 0, Some(1.0)), // ttl 1s
        se("bar", "ok", 2),            // now=2: foo lapsed -> expire copy, clear
        se("bar", "ok2", 3))) {
        input.addData(e); q.processAllAvailable()
      }
      val bases = spark.table("pjttl").as[CombineStreams.Basis].collect()
        .map(_.slots.map(_.map(s => (s.service, s.state, s.time.getTime / 1000))))
      assert(bases.toSeq == Seq(
        Seq(Some(("foo", "ok", 0L)), None),
        Seq(Some(("foo", "expired", 2L)), Some(("bar", "ok", 2L))),
        Seq(None, Some(("bar", "ok2", 3L)))))
    } finally q.stop()
  }

  test("fill-in gap+expiry sequence: expired events stop synthesis (fill-in-test)") {
    // the reference table [1, 0, 2, 3, 0, 4(expired), 5]: gaps before 2
    // and 4 synthesize the filler; NO filler follows the expired 4 even
    // though the same-size gap precedes 5
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    def se(m: Double, t: Long, state: String = "ok") =
      SEvent("h", "s", state, Some(m), ts(t), None)
    val input = MemoryStream[WireEvent]
    val q = CombineStreams.fillIn(input.toDS(), 5, 0.0)
      .writeStream.format("memory").queryName("figold").outputMode("append")
      .start()
    try {
      // scaled from the reference's 0.01s units to whole seconds: gap 6
      // over interval 5 yields exactly one filler
      input.addData(se(1.0, 100)); q.processAllAvailable()
      input.addData(se(2.0, 106)); q.processAllAvailable() // gap: one 0-fill
      input.addData(se(3.0, 107)); q.processAllAvailable() // quick succession
      input.addData(se(4.0, 115, "expired")); q.processAllAvailable() // gap, then expired
      input.addData(se(5.0, 121)); q.processAllAvailable() // gap after expired: NO fill
      val got = spark.table("figold").as[WireEvent].collect()
        .sortBy(_.time.getTime).map(_.metric.get)
      assert(got.toSeq == Seq(1.0, 0.0, 2.0, 3.0, 0.0, 4.0, 5.0))
    } finally q.stop()
  }
}
