package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.streaming.{ReinjectLoop, SEvent, WireEvent}

/** The reinject feedback loop (config.clj:280-288): an alerting branch
  * derives events and sends them BACK into the topology's top, where
  * the full pipeline (index here) sees them on the next trigger. */
class ReinjectSpec extends SparkSpec {

  test("reinject: derived alerts re-enter the topology across triggers") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val primary = MemoryStream[WireEvent]
    val loop = new ReinjectLoop

    // the topology: primary UNION loopback -> (index stand-in) sink
    val all = primary.toDS().union(loop.source)
    val topo = all.writeStream.format("memory").queryName("rein_topo")
      .outputMode("append").start()
    // the alerting branch: critical events become <service>-alert events
    // reinjected at the top (the reference's (where (state "critical")
    // (with ... reinject)) idiom)
    val alerts = primary.toDS()
      .filter(col("state") === "critical")
      .withColumn("service", concat(col("service"), lit("-alert")))
      .withColumn("state", lit("ok"))
      .as[WireEvent]
    val alertQ = Sinks.attach(alerts, loop.sink)
      .queryName("rein_alerts").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("rein").toString)
      .start()

    try {
      primary.addData(
        SEvent("web01", "cpu", "critical", Some(0.99), new Timestamp(1000), None),
        SEvent("web02", "cpu", "ok", Some(0.2), new Timestamp(2000), None))
      alertQ.processAllAvailable() // derive + enqueue the loopback event
      topo.processAllAvailable()   // next trigger: loopback re-enters

      val seen = spark.table("rein_topo").as[WireEvent].collect()
        .map(e => (e.host, e.service, e.state)).toSet
      assert(seen.contains(("web01", "cpu", "critical")))  // original
      assert(seen.contains(("web02", "cpu", "ok")))
      assert(seen.contains(("web01", "cpu-alert", "ok")))  // reinjected
      // the non-critical event produced no alert
      assert(!seen.contains(("web02", "cpu-alert", "ok")))
    } finally { topo.stop(); alertQ.stop() }
  }

  test("reinject volume guard: an over-cap batch fails the query loudly; " +
    "Guarded routes the overflow to the dead letter instead") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ev(i: Int) = SEvent(s"h$i", "cpu", "critical", Some(0.9),
      new Timestamp(1000L * i), None)

    // bare sink: the 3-row batch against cap 2 must fail the query —
    // a misconfigured full-volume loop is a topology bug, not a
    // silently-melting driver
    val primary = MemoryStream[WireEvent]
    val loop = new ReinjectLoop(maxBatchRows = 2)
    val q = Sinks.attach(primary.toDS(), loop.sink)
      .queryName("rein_guard").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("reing").toString)
      .start()
    try {
      primary.addData(ev(1), ev(2), ev(3))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootChain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(rootChain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("maxBatchRows=2")), s"wrong failure: $e")
    } finally q.stop()

    // Guarded wrapper: the same overflow dead-letters and the query
    // keeps running; under-cap batches still reinject
    val primary2 = MemoryStream[WireEvent]
    val loop2 = new ReinjectLoop(maxBatchRows = 2)
    val dead = new Sinks.MemorySink
    val q2 = Sinks.attach(primary2.toDS(),
        new Sinks.Guarded(loop2.sink, dead))
      .queryName("rein_guard2").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("reing2").toString)
      .start()
    val topo2 = loop2.source.writeStream.format("memory")
      .queryName("rein_guard2_loop").outputMode("append").start()
    try {
      primary2.addData(ev(1), ev(2), ev(3))
      q2.processAllAvailable() // over cap -> dead letter, no failure
      primary2.addData(ev(4))
      q2.processAllAvailable() // under cap -> reinjects normally
      topo2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(dead.rows.asScala.exists(_.getAs[String]("host") == "h1"),
        "overflow batch did not reach the dead letter")
      val looped = spark.table("rein_guard2_loop").as[WireEvent].collect()
        .map(_.host).toSet
      assert(looped == Set("h4"),
        s"loopback saw $looped — overflow must not reinject")
    } finally { q2.stop(); topo2.stop() }
  }
}
