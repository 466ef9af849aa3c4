package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StreamingBatch, WireEvent}

/** Streaming batch: size-OR-time bounded vector delivery
  * (streams.clj:1158-1185, streams_test.clj batch-test). */
class BatchProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(m: Double, t: Long, svc: String = "bulk") =
    SEvent("h", svc, "ok", Some(m), ts(t), None)

  test("size flush: the nth event delivers the batch inline") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingBatch(input.toDS(), n = 3, dtSeconds = 1000)
        .writeStream.format("memory").queryName("bt").outputMode("append")
        .start()
      try {
        input.addData(ev(1, 100), ev(2, 110), ev(3, 120), ev(4, 130))
        q.processAllAvailable()
        input.addData(ev(5, 140), ev(6, 150))
        q.processAllAvailable()
        val out = spark.table("bt").as[StreamingBatch.Flush].collect()
          .sortBy(_.emitted_at.getTime)
        assert(out.length == 2)
        assert(out.forall(!_.by_timer))
        assert(out(0).events.flatMap(_.metric).toSeq == Seq(1.0, 2.0, 3.0))
        assert(out(1).events.flatMap(_.metric).toSeq == Seq(4.0, 5.0, 6.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("time flush: dt after the first buffered event, the partial batch delivers") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = StreamingBatch(input.toDS(), n = 10, dtSeconds = 50)
        .writeStream.format("memory").queryName("bt2").outputMode("append")
        .start()
      try {
        input.addData(ev(1, 100), ev(2, 110))
        q.processAllAvailable()
        // another key's events push the watermark past 100+50
        input.addData(ev(9, 300, svc = "other"))
        q.processAllAvailable()
        input.addData(ev(9, 301, svc = "other"))
        q.processAllAvailable()
        val out = spark.table("bt2").as[StreamingBatch.Flush].collect()
          .filter(_.key == "bulk")
        assert(out.length == 1)
        assert(out.head.by_timer)
        assert(out.head.events.flatMap(_.metric).toSeq == Seq(1.0, 2.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
