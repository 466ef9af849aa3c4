package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StreamingRate, WireEvent}

/** Streaming rate with the reference's expiry semantics
  * (streams.clj:841-883, streams_test.clj rate-expiration): interval
  * ticks via event-time timers, zero-rate emissions carrying a
  * decaying ttl between events, expiry stops the chain, the next event
  * restarts it. */
class RateProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(svc: String, m: Double, t: Long,
      ttl: Option[Double] = None) =
    SEvent("a", svc, "ok", Some(m), ts(t), ttl)

  private def withRocks(body: => Unit): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("rate emits zeros with decaying ttl until expiry (rate-expiration)") {
    withRocks {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingRate(input.toDS(), 1, _.service)
        .writeStream.format("memory").queryName("srate").outputMode("append")
        .start()
      try {
        // the golden table {time 0, metric 1, ttl 3} shifted +10 s
        // (rows at event time <= the initial watermark are dropped by
        // the stateful operator's late filter, so t=0 can never land)
        // -> ticks [t11 rate 1 ttl 3] [t12 0 2] [t13 0 1], then the
        // stream expires. The `x` key plays the reference's advancing
        // clock (one batch per step so each timer chains).
        input.addData(ev("s", 1.0, 10, Some(3.0)))
        q.processAllAvailable()
        for (t <- 12L to 18L) {
          input.addData(ev("x", 0.0, t))
          q.processAllAvailable()
        }
        val got = spark.table("srate").as[StreamingRate.RateEmission]
          .collect().filter(_.key == "s").sortBy(_.time_s)
          .map(e => (e.time_s, e.rate, e.ttl)).toSeq
        assert(got == Seq(
          (11L, Some(1.0), Some(3.0)),
          (12L, Some(0.0), Some(2.0)),
          (13L, Some(0.0), Some(1.0))))
        // the clock key itself never expires (no ttl): its ticks keep
        // coming and carry no ttl
        val xs = spark.table("srate").as[StreamingRate.RateEmission]
          .collect().filter(_.key == "x")
        assert(xs.nonEmpty && xs.forall(_.ttl.isEmpty))
      } finally q.stop()
    }
  }

  test("streaming emissions match the batch rateExpiring operator") {
    withRocks {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      // a mixed table: gaps inside ttl, gaps beyond ttl, a restart
      val table = Seq(
        (10L, 2.0, Some(4.0)), (11L, 3.0, Some(4.0)),
        (14L, 5.0, Some(2.0)), (21L, 7.0, Some(3.0)))
      val input = MemoryStream[WireEvent]
      val q = StreamingRate(input.toDS(), 1, _.service)
        .writeStream.format("memory").queryName("srate3").outputMode("append")
        .start()
      try {
        for ((t, m, ttl) <- table) {
          input.addData(ev("s", m, t, ttl))
          q.processAllAvailable()
        }
        // drive the watermark far past the last decay chain
        for (t <- 23L to 30L) {
          input.addData(ev("x", 0.0, t))
          q.processAllAvailable()
        }
        val streaming = spark.table("srate3")
          .as[StreamingRate.RateEmission].collect()
          .filter(_.key == "s")
          .map(e => (e.time_s, e.rate.get, e.ttl)).toSet
        val batchDf = events(table.zipWithIndex.map { case ((t, m, ttl), i) =>
          E(id = i + 1, host = "h", service = "s", metric = m, time = t,
            ttl = ttl.map(Double.box).orNull)
        }: _*)
        val batch = graft.operators.Windows
          .rateExpiring(batchDf, 1, Seq("service"))
          .select("time_s", "rate", "ttl").collect()
          .map(r => (r.getLong(0), r.getDouble(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
        assert(streaming == batch,
          s"\n streaming=${streaming.toSeq.sortBy(_._1)}" +
            s"\n batch    =${batch.toSeq.sortBy(_._1)}")
      } finally q.stop()
    }
  }

  test("rate restarts after expiry on the next event") {
    withRocks {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingRate(input.toDS(), 1, _.service)
        .writeStream.format("memory").queryName("srate2").outputMode("append")
        .start()
      try {
        input.addData(ev("s", 4.0, 10, Some(1.0)))
        q.processAllAvailable()
        for (t <- 12L to 14L) {
          input.addData(ev("x", 0.0, t))
          q.processAllAvailable()
        }
        // ttl 1 allows no zero ticks: only [t11 rate 4]; the next
        // event at t=16 restarts the poller in a fresh interval
        input.addData(ev("s", 6.0, 16, Some(1.0)))
        q.processAllAvailable()
        for (t <- 18L to 20L) {
          input.addData(ev("x", 0.0, t))
          q.processAllAvailable()
        }
        val got = spark.table("srate2").as[StreamingRate.RateEmission]
          .collect().filter(_.key == "s").sortBy(_.time_s)
          .map(e => (e.time_s, e.rate, e.ttl)).toSeq
        assert(got == Seq(
          (11L, Some(4.0), Some(1.0)),
          (17L, Some(6.0), Some(1.0))))
      } finally q.stop()
    }
  }
}
