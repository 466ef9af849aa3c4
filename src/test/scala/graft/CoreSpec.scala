package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{SEvent, StatefulOps, WireEvent}

/** Config lifecycle (core.clj:105-161 transition!) and instrumentation
  * (instrumentation.clj:50-74) tests. */
class CoreSpec extends SparkSpec {

  private def ev(m: Double, t: Long) =
    SEvent("h", "s", "ok", Some(m), new Timestamp(t * 1000), None)

  test("applyConfig starts, reuses equiv, restarts changed (core.clj:105-161)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val core = new Core(spark)

    core.stream("ewma", signature = "r=0.5") {
      StatefulOps.ewmaTimeless(input.toDS(), 0.5)
        .writeStream.format("memory").outputMode("append")
    }
    assert(core.applyConfig() == Seq("ewma"))
    val q1 = core.activeQueries("ewma")

    // same signature -> equiv? -> query keeps running
    core.stream("ewma", signature = "r=0.5") {
      StatefulOps.ewmaTimeless(input.toDS(), 0.5)
        .writeStream.format("memory").outputMode("append")
    }
    assert(core.applyConfig() == Seq())
    assert(core.activeQueries("ewma").id == q1.id)

    // changed signature -> restart with the new topology
    core.stream("ewma", signature = "r=0.9") {
      StatefulOps.ewmaTimeless(input.toDS(), 0.9)
        .writeStream.format("memory").outputMode("append")
    }
    assert(core.applyConfig() == Seq("ewma"))
    assert(core.activeQueries("ewma").id != q1.id)

    // removal path: dropped from the config -> stopped on next apply
    core.removeStream("ewma")
    assert(core.applyConfig() == Seq())
    assert(core.activeQueries.isEmpty)
    core.stop()
  }

  test("reload loses nothing: acked frames sent before an applyConfig " +
    "restart are delivered by the reloaded query, exactly once") {
    import java.io.{DataInputStream, DataOutputStream}
    import graft.sources.{RiemannProtobuf, Sources}
    import graft.sources.RiemannProtobuf.PEvent

    val port = { val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close() }
    val ckpt = java.nio.file.Files
      .createTempDirectory("core_reload_ckpt").toString
    CoreReloadProbe.reset()
    val core = new Core(spark)
    def define(sig: String): Unit = core.stream("wire", signature = sig) {
      Sources.riemannTcpServer(spark, "127.0.0.1", port)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.select("time_s").collect().map(_.getLong(0)).toSeq
          CoreReloadProbe.append(id, rows)
        }
    }
    define("v1")
    core.applyConfig()
    try {
      // 25 events, every frame ACKED, none drained before the reload
      val sock = { var s: java.net.Socket = null
        var last: Exception = null
        (1 to 100).foreach { _ =>
          if (s == null) try s = new java.net.Socket("127.0.0.1", port)
          catch { case e: java.io.IOException => last = e; Thread.sleep(100) } }
        if (s == null) throw last; s }
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        (0 until 25).foreach { i =>
          out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
            PEvent("h", "s", "ok", null, Some(1.0), Nil,
              Some(1706000000L + i), None, Map.empty)))))
          out.flush()
          val len = in.readInt()
          in.readFully(new Array[Byte](len))
        }
      } finally sock.close()
      // config change on the same port: applyConfig stops the old query
      // (parking the undrained buffer) and starts the new one (adopting)
      define("v2")
      assert(core.applyConfig() == Seq("wire"))
      val deadline = System.currentTimeMillis() + 30000
      while (CoreReloadProbe.size < 25) {
        assert(System.currentTimeMillis() < deadline,
          s"reload lost frames: got ${CoreReloadProbe.size} of 25")
        core.activeQueries.values.foreach(_.processAllAvailable())
        Thread.sleep(100)
      }
      val got = CoreReloadProbe.snapshot
      assert(got.size == got.toSet.size, "reload duplicated frames")
      assert(got.toSet == (0 until 25).map(1706000000L + _).toSet)
    } finally core.stop()
  }

  test("instrumentation reports rates and duration quantiles (instrumentation.clj:50-74)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val instr = new Instrumentation
    spark.streams.addListener(instr)
    try {
      val input = MemoryStream[WireEvent]
      val q = input.toDS().writeStream.format("memory")
        .queryName("instrumented").outputMode("append").start()
      input.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      input.addData(ev(3, 3))
      q.processAllAvailable()
      // sample while the query is live (listener delivery is async;
      // termination evicts the series — that eviction is also asserted)
      var tries = 0
      while (!instr.snapshot.contains("instrumented") && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      val snap = instr.snapshot
      assert(snap.contains("instrumented"))
      val (_, qs) = snap("instrumented")
      assert(qs.keySet == Set(0.5, 0.95, 0.99))
      q.stop()
      tries = 0
      while (instr.snapshot.contains("instrumented") && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      assert(!instr.snapshot.contains("instrumented")) // evicted on stop
    } finally spark.streams.removeListener(instr)
  }
}

/** Probe for the reload test; batchId-guarded append (foreachBatch is
  * at-least-once across restarts). */
object CoreReloadProbe {
  private val buf = scala.collection.mutable.ArrayBuffer[Long]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def append(id: Long, rows: Seq[Long]): Unit = synchronized {
    if (id > last) { buf ++= rows; last = id }
  }
  def size: Int = synchronized(buf.size)
  def snapshot: Seq[Long] = synchronized(buf.toList)
}
