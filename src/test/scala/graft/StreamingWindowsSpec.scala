package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StreamingWindows, WireEvent}

/** Watermark-closed window emission: windows finalize in append mode
  * only once the watermark passes their end — the reference's
  * interval-flush + late-drop semantics driven through the data. */
class StreamingWindowsSpec extends SparkSpec {

  private def ev(service: String, m: Double, t: Long) =
    SEvent("h", service, "ok", Some(m), new Timestamp(t * 1000), None)

  test("streaming rate emits closed windows only (streams.clj:841-883, part-time flush)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingWindows.rate(input.toDS(), 10)
      .writeStream.format("memory").queryName("srate").outputMode("append")
      .start()
    try {
      input.addData(ev("cpu", 30.0, 1), ev("cpu", 30.0, 5))
      q.processAllAvailable()
      // window [0,10) not closed yet — nothing emitted
      assert(spark.table("srate").count() == 0)
      input.addData(ev("cpu", 60.0, 15))
      q.processAllAvailable()
      input.addData(ev("cpu", 1.0, 25)) // watermark 25 closes [10,20) too
      q.processAllAvailable()
      val rows = spark.table("srate").orderBy("window_start").collect()
        .map(r => (r.getAs[Double]("rate"), r.getAs[Long]("n_events")))
      assert(rows.toSeq == Seq((6.0, 2L), (6.0, 1L)))
    } finally q.stop()
  }

  test("streaming percentiles: nearest-rank over closed windows (streams.clj:885-898)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingWindows.percentiles(input.toDS(), 10, Seq(0.5, 1.0))
      .writeStream.format("memory").queryName("spct").outputMode("append")
      .start()
    try {
      input.addData(ev("api", 1.0, 1), ev("api", 2.0, 2), ev("api", 9.0, 3))
      q.processAllAvailable()
      input.addData(ev("api", 0.0, 15)) // closes [0,10)
      q.processAllAvailable()
      val rows = spark.table("spct").collect()
        .map(r => (r.getAs[String]("service_pt"), r.getAs[Double]("metric")))
        .toSet
      assert(rows == Set(("api 0.5", 2.0), ("api 1.0", 9.0)))
    } finally q.stop()
  }

  test("streaming apdex: satisfied precedence over closed windows (streams.clj:2103-2157)") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingWindows.apdex(input.toDS(), 10,
      satisfied = col("metric") <= 1.0, tolerated = col("metric") <= 4.0)
      .writeStream.format("memory").queryName("sapdex").outputMode("append")
      .start()
    try {
      // window [0,10): sat 1.0 (also would match tolerated - counted
      // once as satisfied), tol 3.0, frustrated 9.0 -> (1 + 0.5)/3
      input.addData(ev("api", 1.0, 1), ev("api", 3.0, 2), ev("api", 9.0, 3))
      q.processAllAvailable()
      input.addData(ev("api", 1.0, 15)) // watermark 15 closes [0,10)
      q.processAllAvailable()
      input.addData(ev("api", 1.0, 25))
      q.processAllAvailable()
      val rows = spark.table("sapdex").orderBy("window_start").collect()
        .map(r => (r.getAs[Double]("apdex"), r.getAs[Long]("total")))
      assert(rows.toSeq == Seq((0.5, 3L), (1.0, 1L)))
    } finally q.stop()
  }

  test("streaming instrument: continuous rate + latency quantiles per closed window, " +
    "matching the batch relation (instrumentation.clj:26-59)") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    // metric carries the latency in ms; latencyNs converts, as the
    // reference's measure-latency nanoTime deltas would
    val q = StreamingWindows.instrument(input.toDS(), 10,
      latencyNs = col("metric") * 1000000L, quantiles = Seq(0.5, 1.0))
      .writeStream.format("memory").queryName("sinstr").outputMode("append")
      .start()
    try {
      input.addData(ev("api", 10.0, 1), ev("api", 20.0, 2), ev("api", 90.0, 3))
      q.processAllAvailable()
      assert(spark.table("sinstr").count() == 0) // window [0,10) still open
      input.addData(ev("api", 1.0, 15)) // watermark 15 closes it
      q.processAllAvailable()
      val rows = spark.table("sinstr").collect()
        .map(r => (r.getAs[String]("service_out"), r.getAs[Double]("metric")))
        .toSet
      assert(rows == Set(
        ("riemann api rate", 0.3),        // 3 events / 10 s
        ("riemann api latency 0.5", 20.0),
        ("riemann api latency 1.0", 90.0)))
      // same closed window through the batch form: identical relation
      val batch = graft.operators.Windows.instrument(
        events(
          E(id = 1, service = "api", metric = 10.0, time = 1L),
          E(id = 2, service = "api", metric = 20.0, time = 2L),
          E(id = 3, service = "api", metric = 90.0, time = 3L)),
        10, latencyNs = col("metric") * 1000000L, quantiles = Seq(0.5, 1.0))
        .select("service_out", "metric").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(batch == rows)
    } finally q.stop()
  }

  test("streaming fold-interval applies any fold per closed window (streams.clj:663-681)") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = StreamingWindows.foldInterval(input.toDS(), 10,
      expr("percentile(metric, 0.5)"))
      .writeStream.format("memory").queryName("sfold").outputMode("append")
      .start()
    try {
      input.addData(ev("api", 1.0, 1), ev("api", 5.0, 2), ev("api", 9.0, 3))
      q.processAllAvailable()
      input.addData(ev("api", 7.0, 15))
      q.processAllAvailable()
      val rows = spark.table("sfold").collect()
        .map(r => (r.getAs[Double]("metric"), r.getAs[Long]("n_events")))
      assert(rows.toSeq == Seq((5.0, 3L)))
    } finally q.stop()
  }
}
