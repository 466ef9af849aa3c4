package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{DatagramPacket, DatagramSocket, InetAddress, ServerSocket, Socket}

import org.apache.spark.sql.functions._

import graft.operators.Index
import graft.sources.{RiemannProtobuf, RiemannServers, Sources}
import graft.sources.RiemannProtobuf.PEvent

/** End-to-end ingest over the real wire protocol (reference
  * src/riemann/transport/tcp.clj:246-296, udp.clj:147-181): a client
  * socket sends int32-framed protobuf `Msg` bytes to the
  * `riemann-server` MicroBatchStream, which acks each Msg, decodes on
  * executors, and feeds the index + query-language search. */
class RiemannServerSpec extends SparkSpec {

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def pe(host: String, service: String, state: String, m: Double,
      t: Long) =
    PEvent(host, service, state, null, Some(m), Seq("wire"), Some(t),
      Some(60.0), Map("src" -> "test"))

  private def connectRetry(port: Int, attempts: Int = 100): Socket = {
    var last: Exception = null
    (1 to attempts).foreach { _ =>
      try return new Socket("127.0.0.1", port)
      catch { case e: java.io.IOException =>
        last = e; Thread.sleep(100) }
    }
    throw last
  }

  /** Drive micro-batches until the memory sink holds `n` rows. */
  private def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (spark.table(table).count() < n) {
      assert(System.currentTimeMillis() < deadline,
        s"timed out waiting for $n rows in $table")
      Thread.sleep(100)
      q.processAllAvailable()
    }
  }

  test("tcp server: framed Msg -> ack -> decode -> index -> query search") {
    val port = freePort()
    val q = Sources.riemannTcpServer(spark, "127.0.0.1", port)
      .writeStream.format("memory").queryName("tcp_e2e")
      .outputMode("append").start()
    try {
      val sock = connectRetry(port)
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        // two Msgs on one connection: a 2-event batch, then 1 more
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("web01", "cpu", "ok", 0.7, 1706000000L),
          pe("web02", "cpu", "critical", 0.95, 1706000010L)))))
        out.flush()
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("web01", "mem", "ok", 512.0, 1706000020L)))))
        out.flush()
        // each Msg is acked with framed Msg{ok: true}
        (1 to 2).foreach { _ =>
          val len = in.readInt()
          val ack = new Array[Byte](len)
          in.readFully(ack)
          assert(ack.sameElements(Array[Byte](0x10, 1)))
        }
      } finally sock.close()

      awaitRows(q, "tcp_e2e", 3)
      val emitted = spark.table("tcp_e2e")
        .withColumn("event_id", monotonically_increasing_id())

      // wire metadata survives the trip
      assert(emitted.filter(col("host") === "web02").count() == 1)
      assert(one[Double](emitted.filter(col("host") === "web02"), "metric") == 0.95)
      assert(one[scala.collection.Seq[String]](
        emitted.filter(col("service") === "mem"), "tags").toList == List("wire"))
      assert(one[Map[String, String]](
        emitted.filter(col("service") === "mem"), "attributes")("src") == "test")

      // ...and answers a query-language search through the index
      val hits = Index.searchEvents(emitted,
        """state = "critical" and metric > 0.9""")
      assert(hits.select("host").collect().map(_.getString(0)).toSeq ==
        Seq("web02"))
    } finally q.stop()
  }

  test("tcp server: an event without a time gets its frame's receive " +
    "time, not the time of the batch that decodes it (common.clj:86-89)") {
    val msg = RiemannProtobuf.encodeMsg(Seq(
      pe("timed", "cpu", "ok", 0.1, 1706000000L),
      pe("untimed", "cpu", "ok", 0.2, 0L).copy(time_s = None)))
    def timesOf(df: org.apache.spark.sql.DataFrame): Map[String, Option[Long]] =
      df.select("host", "time_s").collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

    // the decode takes the payload's own receive column, whenever the
    // batch runs: a frame received in 2024 keeps its 2024 second
    val received = {
      import spark.implicits._
      Seq((msg, new java.sql.Timestamp(1706000400750L))).toDF("value", "timestamp")
    }
    assert(timesOf(RiemannProtobuf.decodeMsgs(received,
      receivedCol = Some("timestamp")).toDF()) ==
      Map("timed" -> Some(1706000000L), "untimed" -> Some(1706000400L)))
    // without a receive column the time stays unset for the caller
    assert(timesOf(RiemannProtobuf.decodeMsgs(received).toDF()) ==
      Map("timed" -> Some(1706000000L), "untimed" -> None))

    // end to end, the tcp server stamps each frame when it reads it
    val port = freePort()
    val q = Sources.riemannTcpServer(spark, "127.0.0.1", port)
      .writeStream.format("memory").queryName("tcp_receive_time")
      .outputMode("append").start()
    try {
      val sock = connectRetry(port)
      val (before, after) = try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        val before = System.currentTimeMillis()
        out.write(RiemannProtobuf.frame(msg))
        out.flush()
        in.readFully(new Array[Byte](in.readInt()))
        (before, System.currentTimeMillis())
      } finally sock.close()
      awaitRows(q, "tcp_receive_time", 2)
      val times = timesOf(spark.table("tcp_receive_time"))
      assert(times("timed").contains(1706000000L), s"rows: $times")
      assert(times("untimed").exists(t => t >= before / 1000 && t <= after / 1000),
        s"rows: $times, sent in [$before, $after] ms")
    } finally q.stop()
  }

  test("tcp server: a query Msg with no registered index answers " +
    "{ok: false, error: \"no index\"} and never enters the ingest buffer " +
    "(transport.clj:175-181)") {
    val port = freePort()
    val q = Sources.riemannTcpServer(spark, "127.0.0.1", port)
      .writeStream.format("memory").queryName("tcp_noidx")
      .outputMode("append").start()
    try {
      val sock = connectRetry(port)
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        out.write(RiemannProtobuf.frame(
          RiemannProtobuf.encodeQueryMsg("""state = "ok"""")))
        out.flush()
        val len = in.readInt()
        val reply = new Array[Byte](len)
        in.readFully(reply)
        val (ok, err, evs) = RiemannProtobuf.decodeReply(reply)
        assert(ok.contains(false) && evs.isEmpty)
        assert(err.contains("no index"))
        // a normal event Msg on the same connection still ingests + acks
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("web09", "cpu", "ok", 0.1, 1706000000L)))))
        out.flush()
        val alen = in.readInt()
        in.readFully(new Array[Byte](alen))
      } finally sock.close()
      awaitRows(q, "tcp_noidx", 1)
      // the query Msg contributed no rows — only the event Msg landed
      assert(spark.table("tcp_noidx").count() == 1)
    } finally q.stop()
  }

  test("udp server: one un-framed Msg per datagram, no ack") {
    val port = freePort()
    val q = Sources.riemannUdpServer(spark, "127.0.0.1", port)
      .writeStream.format("memory").queryName("udp_e2e")
      .outputMode("append").start()
    try {
      // the bind happens at stream construction; retry until it's up
      val payload = RiemannProtobuf.encodeMsg(Seq(
        pe("edge01", "ping", "ok", 1.0, 1706000100L)))
      val sock = new DatagramSocket()
      try {
        val addr = InetAddress.getByName("127.0.0.1")
        val deadline = System.currentTimeMillis() + 30000
        while (spark.table("udp_e2e").count() < 1) {
          assert(System.currentTimeMillis() < deadline,
            "timed out waiting for the datagram to land")
          sock.send(new DatagramPacket(payload, payload.length, addr, port))
          Thread.sleep(200)
          q.processAllAvailable()
        }
      } finally sock.close()
      val got = spark.table("udp_e2e").filter(col("host") === "edge01")
      assert(got.count() >= 1)
      assert(one[Double](got.limit(1), "metric") == 1.0)
    } finally q.stop()
  }

  test("soak: 4 concurrent clients + mid-stream restart — epoch offsets " +
    "lose nothing sent to the new instance, duplicate nothing") {
    val port = freePort()
    val ckpt = java.nio.file.Files
      .createTempDirectory("riemann_soak_ckpt").toString
    // foreachBatch (not the memory sink): the one local sink that
    // supports restarting from a checkpoint
    def startQuery(name: String) =
      Sources.riemannTcpServer(spark, "127.0.0.1", port)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("host", "time_s").collect().foreach(r =>
            SoakProbe.received.add((r.getString(0), r.getLong(1))))
          ()
        }
        .queryName(name).start()

    /** `writers` concurrent clients, each sending `perWriter` events
      * tagged (phase, writer, i) and reading every ack. */
    def blast(phase: Int, writers: Int, perWriter: Int): Unit = {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until writers).map { wtr =>
        new Thread(() => {
          try {
            val sock = connectRetry(port)
            try {
              val out = new DataOutputStream(sock.getOutputStream)
              val in = new DataInputStream(sock.getInputStream)
              (0 until perWriter).foreach { i =>
                out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
                  pe(s"w$wtr", "soak", "ok", 1.0,
                    1706000000L + phase * 100000 + wtr * 1000 + i)))))
                out.flush()
                val len = in.readInt()
                in.readFully(new Array[Byte](len)) // ack per Msg
              }
            } finally sock.close()
          } catch { case t: Throwable => errs.add(t) }
        }, s"soak-writer-$phase-$wtr")
      }
      ts.foreach(_.start()); ts.foreach(_.join(30000))
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    }
    def phaseKeys(phase: Int, writers: Int, perWriter: Int) =
      (for (w <- 0 until writers; i <- 0 until perWriter)
        yield (s"w$w", 1706000000L + phase * 100000 + w * 1000 + i)).toSet

    SoakProbe.received.clear()
    val q1 = startQuery("soak1")
    try {
      blast(phase = 1, writers = 4, perWriter = 25)
      val deadline = System.currentTimeMillis() + 30000
      while (SoakProbe.received.size < 100) {
        assert(System.currentTimeMillis() < deadline, "phase 1 timed out")
        Thread.sleep(100); q1.processAllAvailable()
      }
    } finally q1.stop()
    // mid-stream restart: a FRESH stream instance starts its offsets
    // at a new epoch strictly above everything the old one
    // checkpointed, so the engine immediately sees new frames as new
    // data — none skipped for carrying "already seen" offsets, and no
    // stall when the new frame count happens to equal the recovered
    // offset (the bug this test originally caught)
    val q2 = startQuery("soak2")
    try {
      blast(phase = 2, writers = 4, perWriter = 25)
      val deadline = System.currentTimeMillis() + 30000
      def phase2Got() = {
        val got = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
        SoakProbe.received.forEach(e => { got += e; () })
        got.toSeq.filter(_._2 >= 1706200000L)
      }
      while (phase2Got().size < 100) {
        assert(System.currentTimeMillis() < deadline, "phase 2 timed out")
        Thread.sleep(100); q2.processAllAvailable()
      }
      val p2 = phase2Got()
      // nothing lost across the restart...
      assert(p2.toSet == phaseKeys(2, 4, 25))
      // ...and nothing delivered twice (phase 1 drained fully before
      // the stop, so the handoff parks an empty buffer and the fresh
      // epoch/handoff offsets introduce no replay; the undrained-stop
      // case is the dedicated handoff test below)
      assert(p2.size == p2.toSet.size, "phase-2 duplicates")
      val all = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
      SoakProbe.received.forEach(e => { all += e; () })
      assert(all.size == all.toSet.size, "duplicates across the restart")
    } finally q2.stop()
  }

  test("in-process restart handoff: acked frames sent right before a stop " +
    "survive the restart, delivered exactly once (RiemannServers.parked)") {
    val port = freePort()
    val ckpt = java.nio.file.Files
      .createTempDirectory("riemann_handoff_ckpt").toString
    HandoffProbe.reset()
    def startQuery(name: String) =
      Sources.riemannTcpServer(spark, "127.0.0.1", port)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          // stage, then append atomically under the batchId guard: an
          // interrupted batch records nothing and replays cleanly
          val staged = batch.select("host", "time_s").collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          HandoffProbe.append(id, staged)
        }
        .queryName(name).start()

    def send(phase: Int, n: Int): Unit = {
      val sock = connectRetry(port)
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        (0 until n).foreach { i =>
          out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
            pe("h", "handoff", "ok", 1.0, 1706000000L + phase * 1000 + i)))))
          out.flush()
          val len = in.readInt()
          in.readFully(new Array[Byte](len)) // every frame is ACKED
        }
      } finally sock.close()
    }

    // three blast-then-kill cycles: each stop() lands with most of the
    // just-acked burst still undrained; the parked buffer must hand off
    // to the next instance with offsets continuing the old lineage
    (1 to 3).foreach { phase =>
      val q = startQuery(s"handoff$phase")
      try send(phase, 30) finally q.stop() // no drain before the kill
    }
    val q = startQuery("handoff-final")
    try {
      val expected = (for (p <- 1 to 3; i <- 0 until 30)
        yield ("h", 1706000000L + p * 1000 + i)).toSet
      val deadline = System.currentTimeMillis() + 30000
      while (HandoffProbe.size < 90) {
        assert(System.currentTimeMillis() < deadline,
          s"handoff lost frames: got ${HandoffProbe.size} of 90")
        Thread.sleep(100); q.processAllAvailable()
      }
      val got = HandoffProbe.snapshot
      assert(got.size == got.toSet.size, "handoff duplicated frames")
      assert(got.toSet == expected, "handoff delivered a different set")
    } finally q.stop()
  }

  test("backpressure never deadlocks: with a 2-frame capacity, a client " +
    "sending 12 acked frames one after another gets every one delivered " +
    "(a batch that takes a full buffer leaves room before its commit)") {
    val port = freePort()
    val q = spark.readStream.format("riemann-server")
      .option("protocol", "tcp").option("host", "127.0.0.1")
      .option("port", port).option("capacity", 2).load()
      .writeStream.format("memory").queryName("tcp_capacity")
      .outputMode("append").start()
    try {
      val sock = connectRetry(port)
      sock.setSoTimeout(30000) // a deadlocked server fails the read
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        (1 to 12).foreach { i =>
          out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
            pe(s"h$i", "cpu", "ok", 1.0, 1706000000L + i)))))
          out.flush()
          in.readFully(new Array[Byte](in.readInt())) // waits for the ack
        }
      } finally sock.close()
      awaitRows(q, "tcp_capacity", 12)
      assert(spark.table("tcp_capacity").count() == 12)
    } finally q.stop()
  }

  test("udp handoff: datagrams enqueued before a stop survive the " +
    "restart (same parked-buffer path as tcp, no acks)") {
    val port = freePort()
    val ckpt = java.nio.file.Files
      .createTempDirectory("riemann_udp_handoff_ckpt").toString
    HandoffProbe.reset()
    def startQuery(name: String) =
      Sources.riemannUdpServer(spark, "127.0.0.1", port)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val staged = batch.select("host", "time_s").collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          HandoffProbe.append(id, staged)
        }
        .queryName(name).start()
    val q1 = startQuery("udp_handoff1")
    // the bind happens at stream construction, after start() returns:
    // a datagram sent before it is refused by the kernel, never
    // enqueued. A trigger that finds no new data comes after the bind.
    q1.processAllAvailable()
    val sock = new DatagramSocket()
    try {
      val addr = InetAddress.getByName("127.0.0.1")
      (0 until 30).foreach { i =>
        val payload = RiemannProtobuf.encodeMsg(Seq(
          pe("u", "handoff", "ok", 1.0, 1706100000L + i)))
        sock.send(new DatagramPacket(payload, payload.length, addr, port))
        Thread.sleep(5) // loopback: give the receive loop room
      }
      Thread.sleep(500) // let the last datagrams enqueue before the kill
    } finally { sock.close(); q1.stop() } // no drain before the stop
    val q2 = startQuery("udp_handoff2")
    try {
      val expected = (0 until 30).map(i => ("u", 1706100000L + i)).toSet
      val deadline = System.currentTimeMillis() + 30000
      while (HandoffProbe.size < 30) {
        assert(System.currentTimeMillis() < deadline,
          s"udp handoff lost frames: got ${HandoffProbe.size} of 30")
        Thread.sleep(100); q2.processAllAvailable()
      }
      val got = HandoffProbe.snapshot
      assert(got.size == got.toSet.size, "udp handoff duplicated frames")
      assert(got.toSet == expected, "udp handoff delivered a different set")
    } finally q2.stop()
  }

  test("truncated/corrupt frames are dropped, later Msgs still decode") {
    val port = freePort()
    val q = Sources.riemannTcpServer(spark, "127.0.0.1", port)
      .writeStream.format("memory").queryName("tcp_corrupt")
      .outputMode("append").start()
    try {
      val sock = connectRetry(port)
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        // a frame whose payload is garbage protobuf: the server buffers
        // it (framing is intact), the executor-side decode drops it
        out.write(RiemannProtobuf.frame(Array[Byte](0x7f, -1, -1, -1, -1)))
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("ok01", "cpu", "ok", 2.0, 1706000200L)))))
        out.flush()
        val in = new DataInputStream(sock.getInputStream)
        (1 to 2).foreach { _ =>
          val len = in.readInt(); in.readFully(new Array[Byte](len))
        }
      } finally sock.close()
      awaitRows(q, "tcp_corrupt", 1)
      assert(one[String](spark.table("tcp_corrupt"), "host") == "ok01")
    } finally q.stop()
  }

  test("tls tcp server: mutual-TLS framed round trip; a plaintext " +
    "client is rejected without disturbing the stream " +
    "(transport_test.clj tls-test)") {
    // shared self-signed PKCS12 fixture (TlsTestSupport): server
    // identity AND client-cert trust anchor in one store
    val ks = TlsTestSupport.keystore
    def clientContext() = TlsTestSupport.clientContext()
    val port = freePort()
    val q = Sources.riemannTlsServer(spark, "127.0.0.1", port,
        ks.getPath, "changeit", clientAuth = true)
      .writeStream.format("memory").queryName("tls_e2e")
      .outputMode("append").start()
    try {
      // TLS client presenting the trusted cert: full framed round trip
      val ctx = clientContext()
      def tlsConnect(attempts: Int = 100): java.net.Socket = {
        var last: Exception = null
        (1 to attempts).foreach { _ =>
          try return ctx.getSocketFactory.createSocket("127.0.0.1", port)
          catch { case e: java.io.IOException =>
            last = e; Thread.sleep(100) }
        }
        throw last
      }
      val sock = tlsConnect()
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("secure01", "cpu", "ok", 0.5, 1706000100L)))))
        out.flush()
        val len = in.readInt()
        val ack = new Array[Byte](len)
        in.readFully(ack)
        assert(ack.sameElements(Array[Byte](0x10, 1)))
      } finally sock.close()
      awaitRows(q, "tls_e2e", 1)
      assert(one[String](spark.table("tls_e2e"), "host") == "secure01")

      // plaintext client on the TLS port: the handshake rejects it and
      // only that connection dies — the stream keeps serving
      val plain = connectRetry(port)
      try {
        val out = new DataOutputStream(plain.getOutputStream)
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("intruder", "cpu", "ok", 1.0, 1706000200L)))))
        out.flush()
        // server closes on handshake failure; reads reach EOF or reset
        try {
          while (plain.getInputStream.read() != -1) ()
        } catch { case _: java.io.IOException => () }
      } catch { case _: java.io.IOException => () // reset mid-write is fine
      } finally plain.close()

      // a second TLS client still round-trips after the rejected one
      val sock2 = tlsConnect()
      try {
        val out = new DataOutputStream(sock2.getOutputStream)
        val in = new DataInputStream(sock2.getInputStream)
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          pe("secure02", "mem", "ok", 128.0, 1706000300L)))))
        out.flush()
        val len = in.readInt(); in.readFully(new Array[Byte](len))
      } finally sock2.close()
      awaitRows(q, "tls_e2e", 2)
      val hosts = spark.table("tls_e2e").select("host")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(hosts == Seq("secure01", "secure02")) // no "intruder"

      // the CLIENT side of the same wire: the out-of-the-box pooled
      // forward sink speaks mutual TLS into this server — a full
      // riemann→riemann forwarding loop with per-Msg ack reads
      val fwd = graft.sinks.Sinks.forwardSink("127.0.0.1", port,
        Some(graft.TlsFiles(ks.getPath, "changeit")))
      fwd.write(events(
        E(id = 30, host = "fwd01", service = "cpu", state = "ok",
          metric = 0.25, time = 1706000400L, ttl = 60.0)), 0L)
      awaitRows(q, "tls_e2e", 3)
      assert(spark.table("tls_e2e").select("host")
        .collect().map(_.getString(0)).sorted.toSeq ==
        Seq("fwd01", "secure01", "secure02"))
    } finally q.stop()
  }
}

/** Static so the foreachBatch closure reaches the SAME queue after
  * task-side deserialization (collect happens on the driver, but the
  * closure itself is checkpCompat-serialized). */
object SoakProbe {
  val received =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
}

/** Probe for the handoff test: batches append atomically under a
  * batchId guard so a replayed batch (foreachBatch is at-least-once
  * across restarts) never double-counts. */
object HandoffProbe {
  private val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def append(id: Long, rows: Seq[(String, Long)]): Unit = synchronized {
    if (id > last) { buf ++= rows; last = id }
  }
  def size: Int = synchronized(buf.size)
  def snapshot: Seq[(String, Long)] = synchronized(buf.toList)
}
