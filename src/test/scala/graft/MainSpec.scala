package graft

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest
import java.util.Base64

import graft.sources.RiemannProtobuf
import graft.sources.RiemannProtobuf.PEvent

/** The packaged process (bin.clj:135-167 analog) end to end: a config
  * file defines the servers and the index topology, [[Main.start]]
  * assembles it, events arrive over a REAL framed-protobuf TCP socket,
  * and `GET /index?query=…` over a REAL websocket answers from the
  * served index — then a mid-traffic reload preserves both the index
  * and undrained acked frames. */
class MainSpec extends SparkSpec {

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def connect(port: Int): Socket = {
    var s: Socket = null
    var last: Exception = null
    (1 to 100).foreach { _ =>
      if (s == null) try s = new Socket("127.0.0.1", port)
      catch { case e: java.io.IOException => last = e; Thread.sleep(100) }
    }
    if (s == null) throw last
    s
  }

  private def sendEvents(port: Int, events: Seq[PEvent]): Unit = {
    val sock = connect(port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      events.foreach { e =>
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(e))))
        out.flush()
        val len = in.readInt()
        in.readFully(new Array[Byte](len)) // the ok-ack
      }
    } finally sock.close()
  }

  /** Each inner Seq as one Msg, all written before any ack is read, so
    * the frames reach the server together. */
  private def sendMsgs(port: Int, msgs: Seq[Seq[PEvent]]): Unit = {
    val sock = connect(port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      msgs.foreach(m => out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(m))))
      out.flush()
      msgs.foreach { _ =>
        val len = in.readInt()
        in.readFully(new Array[Byte](len)) // the ok-ack
      }
    } finally sock.close()
  }

  private def wsHandshake(sock: Socket, path: String): Unit = {
    val key = Base64.getEncoder.encodeToString(
      Array.tabulate[Byte](16)(i => (i * 5 + 1).toByte))
    sock.getOutputStream.write(
      (s"GET $path HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\n" +
        s"Connection: Upgrade\r\nSec-WebSocket-Key: $key\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(StandardCharsets.UTF_8))
    sock.getOutputStream.flush()
    val in = sock.getInputStream
    val head = new StringBuilder
    var c = in.read()
    while (c != -1 && !head.endsWith("\r\n\r\n")) {
      head.append(c.toChar)
      c = if (head.endsWith("\r\n\r\n")) -1 else in.read()
    }
    assert(head.toString.contains("101 Switching Protocols"))
    val expect = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          .getBytes(StandardCharsets.US_ASCII)))
    assert(head.toString.contains(s"Sec-WebSocket-Accept: $expect"))
  }

  private def readFrame(in: DataInputStream): (Int, String) = {
    val b0 = in.readUnsignedByte()
    val b1 = in.readUnsignedByte()
    var len: Int = b1 & 0x7f
    if (len == 126) len = in.readUnsignedShort()
    val payload = new Array[Byte](len)
    in.readFully(payload)
    (b0 & 0x0f, new String(payload, StandardCharsets.UTF_8))
  }

  /** Dump the current /index hits for a query over a fresh ws client. */
  private def wsIndexDump(port: Int, query: String, atLeast: Int): Seq[String] = {
    val sock = connect(port)
    sock.setSoTimeout(20000)
    try {
      wsHandshake(sock,
        "/index?query=" + java.net.URLEncoder.encode(query, "UTF-8"))
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      (1 to atLeast).map(_ => readFrame(in)._2)
    } finally sock.close()
  }

  /** One riemann-wire query (a Msg{query} on the ingest socket) and its
    * decoded reply: (ok, error, events). */
  private def wireQueryOn(port: Int, q: String): (Option[Boolean],
      Option[String], Seq[RiemannProtobuf.PEvent]) = {
    val sock = connect(port)
    sock.setSoTimeout(20000)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeQueryMsg(q)))
      out.flush()
      val len = in.readInt()
      val reply = new Array[Byte](len)
      in.readFully(reply)
      RiemannProtobuf.decodeReply(reply)
    } finally sock.close()
  }

  test("config file -> Main.start -> TCP ingest -> ws index query; " +
    "reload mid-traffic preserves index state and acked frames") {
    val tcpPort = freePort()
    val tcp2Port = freePort()
    val wsPort = freePort()
    val dir = Files.createTempDirectory("graft-main")
    val cfg = dir.resolve("graft.json")
    val ckpt = dir.resolve("ckpt").toString
    // two ingest servers (each server source feeds exactly one stream):
    // tcp -> the index topology, tcp2 -> a filtering stream whose
    // definition the reload changes mid-traffic
    def writeCfg(hotExpr: String): Unit = Files.writeString(cfg,
      s"""{"servers": {
         |   "tcp":  {"host": "127.0.0.1", "port": $tcpPort},
         |   "tcp2": {"protocol": "tcp", "host": "127.0.0.1", "port": $tcp2Port},
         |   "ws":   {"port": $wsPort} },
         | "streams": [
         |   {"name": "index", "source": "tcp",
         |    "pipeline": [{"op": "index"}],
         |    "sink": {"kind": "index", "outputMode": "update",
         |             "checkpoint": "$ckpt"}},
         |   {"name": "hot", "source": "tcp2",
         |    "pipeline": [{"op": "where", "expr": "$hotExpr"}],
         |    "sink": {"kind": "memory"}}
         |]}""".stripMargin)
    writeCfg("metric > 0.5")

    val running = Main.start(cfg, Some(spark))
    try {
      def drain(): Unit =
        running.core.activeQueries.values.foreach(_.processAllAvailable())

      def ev(host: String, metric: Double, t: Long) =
        PEvent(host, "cpu", if (metric > 0.8) "critical" else "ok", null,
          Some(metric), Nil, Some(t), Some(3600.0), Map.empty)

      sendEvents(tcpPort, Seq(
        ev("web01", 0.95, 1706000000L), ev("web02", 0.30, 1706000010L)))
      drain()
      val deadline = System.currentTimeMillis() + 30000
      while (running.index.size < 2 &&
          System.currentTimeMillis() < deadline) { drain(); Thread.sleep(100) }
      assert(running.index.size == 2, s"index has ${running.index.size} keys")

      // the query surface, over the wire: only web01 is critical
      val hits = wsIndexDump(wsPort, """state = "critical"""", 1)
      assert(hits.exists(_.contains("web01")), s"hits: $hits")
      assert(!hits.exists(_.contains("web02")))

      // the riemann-wire query path (transport.clj:175-181): a
      // Msg{query} on the INGEST socket answers from the same index
      def wireQuery(q: String) = wireQueryOn(tcpPort, q)
      val (ok, err, evs) = wireQuery("""state = "critical"""")
      assert(ok.contains(true) && err.isEmpty, s"reply: $ok $err")
      assert(evs.map(_.host) == Seq("web01"), s"events: $evs")
      val (bok, berr, bevs) = wireQuery("state ===== not a query")
      assert(bok.contains(false) && bevs.isEmpty)
      assert(berr.exists(_.startsWith("parse error")), s"error: $berr")

      // serving-path throughput: the compiled-closure evaluator (no
      // per-query Spark job) must clear hundreds of sequential wire
      // queries per second over ONE socket — a Spark-job-per-query
      // path caps at ~10-20 QPS, so 200 QPS separates cleanly even on
      // a loaded CI box. Mixed pkey point lookups and scan queries.
      locally {
        val sock = connect(tcpPort)
        sock.setSoTimeout(20000)
        try {
          val out = new DataOutputStream(sock.getOutputStream)
          val in = new DataInputStream(sock.getInputStream)
          val n = 300
          val t0 = System.nanoTime()
          (1 to n).foreach { i =>
            val q = if (i % 2 == 0) """host = "web01" and service = "cpu""""
              else """state = "critical""""
            out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeQueryMsg(q)))
            out.flush()
            val len = in.readInt()
            val reply = new Array[Byte](len)
            in.readFully(reply)
            val (qok, _, qevs) = RiemannProtobuf.decodeReply(reply)
            assert(qok.contains(true) && qevs.nonEmpty)
          }
          val qps = n / ((System.nanoTime() - t0) / 1e9)
          info(f"wire serving: $qps%.0f queries/s (closed-loop, one socket)")
          // floor sits 2.5x above the old Spark-job path's IDLE ~20 QPS
          // yet 60x under the closure path's measured ~3300, so a
          // loaded CI box (the repo documents 2-7x inflation) cannot
          // flake it while a per-query-Spark-job regression still fails
          assert(qps > 50, f"serving path too slow: $qps%.0f QPS")
        } finally sock.close()
      }

      // the reference's index stores whole events: tags ingested on
      // the wire survive the tagged index path and answer `tagged`
      // queries (with the tags riding back in the reply)
      sendEvents(tcpPort, Seq(PEvent("web09", "disk", "warning", null,
        Some(0.7), Seq("prod", "canary"), Some(1706000040L), Some(3600.0),
        Map("dc" -> "eu"))))
      drain()
      while (running.index.size < 3 &&
          System.currentTimeMillis() < deadline) { drain(); Thread.sleep(100) }
      val (tok, terr, tevs) = wireQuery("""tagged "canary"""")
      assert(tok.contains(true) && terr.isEmpty, s"reply: $tok $terr")
      assert(tevs.map(_.host) == Seq("web09"), s"events: $tevs")
      assert(tevs.head.tags == Seq("prod", "canary"), s"tags: $tevs")
      assert(tevs.head.attributes == Map("dc" -> "eu"), s"attrs: $tevs")
      // attribute queries resolve through the stored attributes
      val (aok, _, aevs) = wireQuery("""dc = "eu"""")
      assert(aok.contains(true) && aevs.map(_.host) == Seq("web09"),
        s"attr query: $aevs")

      // ACK some frames on tcp2 that its query has not drained yet,
      // then reload with a CHANGED hot definition: the restarted query
      // must adopt the parked frames (CoreSpec's handoff, here driven
      // through the packaged process); the untouched index stream must
      // keep running with its served state intact
      sendEvents(tcp2Port, Seq(ev("app01", 0.70, 1706000050L)))
      val beforeId = running.core.activeQueries("index").id
      writeCfg("metric > 0.6")
      val restarted = running.loader.reload() // what SIGHUP invokes
      assert(restarted == Seq("hot"), s"restarted: $restarted")
      assert(running.core.activeQueries("index").id == beforeId,
        "unchanged index stream must not restart on reload")
      assert(running.index.size == 3, "reload lost served index state")

      // post-reload traffic still flows into both topologies
      sendEvents(tcpPort, Seq(ev("web03", 0.99, 1706000100L)))
      sendEvents(tcp2Port, Seq(ev("app02", 0.65, 1706000110L)))
      drain()
      while ((running.index.size < 4 ||
          running.loader.memorySinks("hot").size < 2) &&
          System.currentTimeMillis() < deadline) { drain(); Thread.sleep(100) }
      assert(running.index.size == 4)
      val hits2 = wsIndexDump(wsPort, """state = "critical"""", 2)
      assert(hits2.exists(_.contains("web01")) &&
        hits2.exists(_.contains("web03")), s"hits: $hits2")
      // app01 was acked pre-reload and adopted by the restarted query;
      // app02 arrived after — both pass the new metric > 0.6 filter
      import scala.jdk.CollectionConverters._
      val hotHosts = running.loader.memorySinks("hot").rows.asScala
        .map(_.getAs[String]("host")).toSet
      assert(hotHosts == Set("app01", "app02"), s"hot saw $hotHosts")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("multi-source stream over REAL sockets: one config stream fed by " +
    "the tcp AND udp server blocks at once — the reference's default " +
    "deployment shape (riemann.config:6-28: one (streams ...) topology " +
    "receiving from every transport, core.clj:15-20)") {
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    val tcpPort = freePort()
    val udpPort = freePort()
    val dir = Files.createTempDirectory("graft-main-multisrc")
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"servers": {
         |   "tcp": {"host": "127.0.0.1", "port": $tcpPort},
         |   "udp": {"host": "127.0.0.1", "port": $udpPort} },
         | "streams": [
         |   {"name": "merged", "source": ["tcp", "udp"],
         |    "pipeline": [{"op": "where", "expr": "metric > 0.1"}],
         |    "sink": {"kind": "memory"}}
         |]}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      // each server source has exactly ONE subscriber: the union
      // consumes both directly — one query, no tee
      assert(running.core.activeQueries.keySet == Set("merged"))
      def drain(): Unit =
        running.core.activeQueries.values.foreach(_.processAllAvailable())
      def ev(host: String, metric: Double, t: Long) =
        PEvent(host, "cpu", "ok", null, Some(metric), Nil, Some(t),
          Some(3600.0), Map.empty)

      sendEvents(tcpPort, Seq(ev("via-tcp", 0.9, 1706000000L)))
      drain()
      // udp has no ack: resend until the datagram lands
      val payload = RiemannProtobuf.encodeMsg(Seq(
        ev("via-udp", 0.8, 1706000010L)))
      val sock = new DatagramSocket()
      import scala.jdk.CollectionConverters._
      def hosts(): Set[String] = running.loader.memorySinks("merged")
        .rows.asScala.map(_.getAs[String]("host")).toSet
      try {
        val addr = InetAddress.getByName("127.0.0.1")
        val deadline = System.currentTimeMillis() + 30000
        while (!hosts().contains("via-udp")) {
          assert(System.currentTimeMillis() < deadline,
            s"udp event never landed; sink has ${hosts()}")
          sock.send(new DatagramPacket(payload, payload.length, addr, udpPort))
          Thread.sleep(200)
          drain()
        }
      } finally sock.close()
      // both transports' events flowed through the ONE stream
      assert(hosts() == Set("via-tcp", "via-udp"), s"saw ${hosts()}")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("files-protocol ingest: the packaged process runs a curation-" +
    "style firehose from a parquet landing zone — natively replayable " +
    "(two subscribers, NO tee), later-landed files flow to both, " +
    "cross-batch dedup state spans batches; fanout block wires " +
    "retention + the replayable set") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-main-files")
    val zone = dir.resolve("zone")
    Files.createDirectories(zone)
    def land(rows: (Long, String, Long)*): Unit =
      rows.toSeq.toDF("doc_id", "text", "time_s")
        .selectExpr("doc_id", "text", "timestamp_seconds(time_s) AS time")
        .write.mode("append").parquet(zone.toString)
    land((1L, "the same document text", 100L))
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"servers": {
         |   "docs": {"protocol": "files", "path": "$zone",
         |            "format": "parquet"} },
         | "fanout": {"replayable": ["docs"]},
         | "streams": [
         |   {"name": "uniq", "source": "docs",
         |    "pipeline": [{"op": "dedup", "horizon": "1 hour"}],
         |    "sink": {"kind": "memory"}},
         |   {"name": "raw", "source": "docs", "pipeline": [],
         |    "sink": {"kind": "memory"}}
         |]}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      // natively replayable: each subscriber consumes the landing zone
      // itself — no tee query, no spool
      assert(running.core.activeQueries.keySet == Set("uniq", "raw"))
      assert(running.loader.replayableSources.contains("docs"))
      def drain(): Unit = running.core.processAllAvailable()
      drain()
      import scala.jdk.CollectionConverters._
      def ids(n: String): Seq[Long] = running.loader.memorySinks(n)
        .rows.asScala.map(_.getAs[Long]("doc_id")).toSeq.sorted
      assert(ids("raw") == Seq(1L))
      // a LATER-landed file with a duplicate text: raw sees both rows,
      // uniq's cross-batch state drops the duplicate
      land((2L, "the same document text", 200L),
        (3L, "a different document", 300L))
      val deadline = System.currentTimeMillis() + 30000
      while (ids("raw").size < 3 && System.currentTimeMillis() < deadline) {
        drain(); Thread.sleep(100)
      }
      assert(ids("raw") == Seq(1L, 2L, 3L))
      assert(ids("uniq") == Seq(1L, 3L), s"uniq saw ${ids("uniq")}")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("landing-zone atomic-arrival contract: a dot-prefixed in-flight " +
    "file dropped into the zone mid-stream is never read; renaming it " +
    "in atomically makes exactly its rows visible (docs/config.md " +
    "producer contract, r19 VERDICT #5)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-main-atomic")
    val zone = dir.resolve("zone")
    val staging = dir.resolve("staging")
    Files.createDirectories(zone)
    Files.createDirectories(staging)
    def mkParquet(into: java.nio.file.Path, rows: (Long, String, Long)*)
        : java.nio.file.Path = {
      val tmp = Files.createTempDirectory(dir, "w")
      rows.toSeq.toDF("doc_id", "text", "time_s")
        .selectExpr("doc_id", "text", "timestamp_seconds(time_s) AS time")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val out = into.resolve(part.getFileName)
      Files.move(part, out)
      out
    }
    mkParquet(zone, (1L, "first", 100L))
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"servers": {
         |   "docs": {"protocol": "files", "path": "$zone",
         |            "format": "parquet"} },
         | "streams": [
         |   {"name": "raw", "source": "docs", "pipeline": [],
         |    "sink": {"kind": "memory"}}]}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      def drain(): Unit = running.core.processAllAvailable()
      drain()
      import scala.jdk.CollectionConverters._
      def ids(): Seq[Long] = running.loader.memorySinks("raw")
        .rows.asScala.map(_.getAs[Long]("doc_id")).toSeq.sorted
      assert(ids() == Seq(1L))
      // a producer staging IN the zone under a dot-prefixed name: the
      // listing must never surface it, however many triggers run
      val staged = mkParquet(staging, (2L, "second", 200L))
      val hidden = zone.resolve("." + staged.getFileName.toString + ".tmp")
      Files.move(staged, hidden)
      for (_ <- 1 to 3) { drain(); Thread.sleep(50) }
      assert(ids() == Seq(1L),
        "an in-flight dot-prefixed file must be invisible to the zone")
      // the atomic publish: rename to a visible name — its rows (and
      // only its rows) arrive
      Files.move(hidden,
        zone.resolve(hidden.getFileName.toString.stripPrefix(".")
          .stripSuffix(".tmp")),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val deadline = System.currentTimeMillis() + 30000
      while (ids().size < 2 && System.currentTimeMillis() < deadline) {
        drain(); Thread.sleep(100)
      }
      assert(ids() == Seq(1L, 2L))
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("the fanout block is include-merged like the streams: a " +
    "replayable name from an included file registers, and a reload that " +
    "drops the include removes it") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-main-fanout-inc")
    val zone = dir.resolve("zone")
    Files.createDirectories(zone)
    Seq((1L, "doc", 100L)).toDF("doc_id", "text", "time_s")
      .selectExpr("doc_id", "text", "timestamp_seconds(time_s) AS time")
      .write.mode("append").parquet(zone.toString)
    val inc = dir.resolve("fanout.json")
    Files.writeString(inc, """{"fanout": {"replayable": ["bus"]}}""")
    val cfg = dir.resolve("graft.json")
    def writeCfg(withInclude: Boolean): Unit = Files.writeString(cfg,
      s"""{${if (withInclude) "\"include\": [\"fanout.json\"]," else ""}
         | "servers": {"docs": {"protocol": "files", "path": "$zone",
         |             "format": "parquet"}},
         | "streams": [{"name": "raw", "source": "docs", "pipeline": [],
         |   "sink": {"kind": "memory"}}]}""".stripMargin)
    writeCfg(withInclude = true)
    val running = Main.start(cfg, Some(spark))
    try {
      assert(running.loader.replayableSources == Set("docs", "bus"),
        "a fanout block in an INCLUDED file must be honored")
      // drop the include: the replayable list is now absent everywhere
      writeCfg(withInclude = false)
      running.reload()
      assert(running.loader.replayableSources == Set("docs"))
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a fanout block that still sets a key of the removed on-disk " +
    "fan-out store fails the start, naming the key and pointing at " +
    "replayable") {
    val cfg = Files.createTempDirectory("graft-main-fanout-gone")
      .resolve("graft.json")
    for (key <- Seq("dir", "retentionHours")) {
      Files.writeString(cfg,
        s"""{"fanout": {"$key": "x"}, "streams": []}""")
      val e = intercept[IllegalArgumentException] {
        Main.start(cfg, Some(spark)).stop()
      }
      assert(e.getMessage.contains(s"fanout.$key") &&
        e.getMessage.contains("replayable"), e.getMessage)
    }
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("Running.reload rebinds an edited ingest server socket: the " +
    "non-equiv service restart (core.clj:105-161), traffic continuing " +
    "into the same sink") {
    val portA = freePort()
    val portB = freePort()
    val dir = Files.createTempDirectory("graft-main-rebind")
    val cfg = dir.resolve("graft.json")
    def writeCfg(port: Int): Unit = Files.writeString(cfg,
      s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $port}},
         | "streams": [
         |   {"name": "flow", "source": "tcp", "pipeline": [],
         |    "sink": {"kind": "memory"}}]}""".stripMargin)
    writeCfg(portA)
    val running = Main.start(cfg, Some(spark))
    try {
      def drain(): Unit =
        running.core.activeQueries.values.foreach(_.processAllAvailable())
      def rows() = running.loader.memorySinks.get("flow")
        .map(_.size).getOrElse(0)
      def ev(host: String, t: Long) = PEvent(host, "cpu", "ok", null,
        Some(0.5), Nil, Some(t), Some(60.0), Map.empty)
      val deadline = System.currentTimeMillis() + 30000
      sendEvents(portA, Seq(ev("h1", 1706000000L)))
      while (rows() < 1 && System.currentTimeMillis() < deadline) {
        drain(); Thread.sleep(100)
      }
      assert(rows() == 1, s"pre-reload rows: ${rows()}")

      // edit ONLY the server block — the stream definition is
      // unchanged, but its signature is salted with the block, so the
      // stream is non-equiv: it restarts, its source stop() closes the
      // old socket, the successor binds the new port
      writeCfg(portB)
      val restarted = running.reload()
      assert(restarted == Seq("flow"), s"restarted: $restarted")
      // the old port must actually be released (single attempt, no
      // retry loop — a lingering listener would accept)
      intercept[java.io.IOException] {
        new Socket("127.0.0.1", portA).close()
      }
      // traffic on the NEW port lands in the SAME memory sink
      sendEvents(portB, Seq(ev("h2", 1706000010L)))
      while (rows() < 2 && System.currentTimeMillis() < deadline) {
        drain(); Thread.sleep(100)
      }
      assert(rows() == 2, s"post-reload rows: ${rows()}")

      // a reload against the unchanged file is fully equiv: nothing
      // restarts, the socket stays bound
      assert(running.reload().isEmpty)
      sendEvents(portB, Seq(ev("h3", 1706000020L)))
      while (rows() < 3 && System.currentTimeMillis() < deadline) {
        drain(); Thread.sleep(100)
      }
      assert(rows() == 3)
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a tls-configured tcp server block terminates mutual TLS through " +
    "the packaged process (tlsclientauth as a NATIVE json boolean)") {
    val ks = TlsTestSupport.keystore
    val tlsPort = freePort()
    val dir = Files.createTempDirectory("graft-main-tls")
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"servers": {
         |   "tcp": {"host": "127.0.0.1", "port": $tlsPort,
         |           "tlskeystore": "${ks.getPath}",
         |           "tlspassword": "changeit", "tlsclientauth": true}},
         | "streams": [
         |   {"name": "secure", "source": "tcp", "pipeline": [],
         |    "sink": {"kind": "memory"}}]}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      val ctx = TlsTestSupport.clientContext()
      var sock: Socket = null
      var last: Exception = null
      (1 to 100).foreach { _ =>
        if (sock == null)
          try sock = ctx.getSocketFactory.createSocket("127.0.0.1", tlsPort)
          catch { case e: java.io.IOException => last = e; Thread.sleep(100) }
      }
      if (sock == null) throw last
      try {
        val out = new DataOutputStream(sock.getOutputStream)
        val in = new DataInputStream(sock.getInputStream)
        out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(Seq(
          PEvent("secure01", "cpu", "ok", null, Some(0.5), Nil,
            Some(1706000100L), Some(60.0), Map.empty)))))
        out.flush()
        val len = in.readInt()
        in.readFully(new Array[Byte](len)) // the ok-ack over TLS
      } finally sock.close()
      val deadline = System.currentTimeMillis() + 30000
      def rows() = running.loader.memorySinks.get("secure")
        .map(_.size).getOrElse(0)
      while (rows() < 1 && System.currentTimeMillis() < deadline) {
        running.core.activeQueries.values.foreach(_.processAllAvailable())
        Thread.sleep(100)
      }
      assert(rows() == 1, "TLS-ingested event did not land")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a typo'd tlsclientauth value THROWS instead of silently " +
    "disabling client-cert verification") {
    val ks = TlsTestSupport.keystore
    val dir = Files.createTempDirectory("graft-main-tls-bad")
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"servers": {
         |   "tcp": {"host": "127.0.0.1", "port": ${freePort()},
         |           "tlskeystore": "${ks.getPath}",
         |           "tlspassword": "changeit", "tlsclientauth": "yes"}},
         | "streams": []}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Main.start(cfg, Some(spark)).stop()
    }
    assert(e.getMessage.contains("tlsclientauth"))
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("a wrong-typed server host or served-index checkpoint fails the " +
    "start, naming its key, instead of binding 127.0.0.1 or feeding the " +
    "index with no log") {
    val dir = Files.createTempDirectory("graft-main-types")
    val cfg = dir.resolve("graft.json")
    for ((server, sink, key) <- Seq(
        (s""""host": 5, "port": ${freePort()}""", """{"kind": "index"}""",
          "servers.tcp.host: got JInt(5)"),
        (s""""port": ${freePort()}""", """{"kind": "index", "checkpoint": 5}""",
          "index.sink.checkpoint: got JInt(5)"))) {
      Files.writeString(cfg,
        s"""{"servers": {"tcp": {$server}},
           | "streams": [{"name": "index", "source": "tcp",
           |   "pipeline": [{"op": "index"}], "sink": $sink}]}""".stripMargin)
      val e = intercept[IllegalArgumentException] {
        Main.start(cfg, Some(spark)).stop()
      }
      assert(e.getMessage.contains(key), e.getMessage)
    }
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("a servers block that only an included file defines is served: " +
    "servers, modelsKeep and fanout merge like the streams, the last " +
    "file in include order that defines one winning") {
    val tcpPort = freePort()
    val dir = Files.createTempDirectory("graft-main-servers-inc")
    Files.writeString(dir.resolve("servers.json"),
      s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $tcpPort}}}""")
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      """{"include": ["servers.json"],
        | "streams": [{"name": "index", "source": "tcp",
        |   "pipeline": [{"op": "index"}],
        |   "sink": {"kind": "index", "outputMode": "update"}}]}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      sendEvents(tcpPort, Seq(PEvent("inc01", "cpu", "ok", null, Some(0.5),
        Nil, Some(1706000000L), Some(3600.0), Map.empty)))
      val deadline = System.currentTimeMillis() + 30000
      while (running.index.size < 1 && System.currentTimeMillis() < deadline) {
        running.core.activeQueries.values.foreach(_.processAllAvailable())
        Thread.sleep(100)
      }
      val (ok, err, evs) = wireQueryOn(tcpPort, """host = "inc01"""")
      assert(ok.contains(true) && err.isEmpty, s"reply: $ok $err")
      assert(evs.map(_.host) == Seq("inc01"), s"events: $evs")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("config test mode (bin.clj 'test'): passing and failing tests " +
    "report correctly, driven through a real streaming query") {
    val dir = Files.createTempDirectory("graft-main-test")
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      """{"streams": [
        |   {"name": "hot", "source": "unused",
        |    "pipeline": [{"op": "where", "expr": "metric > 0.5"},
        |                 {"op": "tag", "tags": ["hot"]}],
        |    "sink": {"kind": "memory"}}],
        | "tests": [
        |   {"name": "keeps-hot", "stream": "hot",
        |    "inject": [
        |      {"host": "h1", "service": "cpu", "state": "critical",
        |       "metric": 0.9, "time_s": 100},
        |      {"host": "h2", "service": "cpu", "state": "ok",
        |       "metric": 0.2, "time_s": 101}],
        |    "expect": [{"host": "h1", "metric": 0.9}],
        |    "expect_count": 1},
        |   {"name": "wrong-expectation", "stream": "hot",
        |    "inject": [{"host": "h3", "service": "cpu", "state": "ok",
        |                "metric": 0.1, "time_s": 102}],
        |    "expect": [{"host": "h3"}]}
        |]}""".stripMargin)
    val before = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    val (passed, failedN) = Main.runTests(cfg, spark)
    // runTests restores the caller's provider conf itself
    assert(spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass") == before)
    assert(passed == 1 && failedN == 1, s"got $passed passed, $failedN failed")
  }

  test("jobs command: the packaged process runs the config's batch " +
    "planners (cap -> split -> pack) from the command-line surface, " +
    "writing the planned corpus and reporting rows per job") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-main-jobs")
    val in = dir.resolve("corpus.parquet").toString
    (1 to 200).map(i => (i.toLong, s"src${i % 3}",
        ("token " * (10 + i % 5)).trim, "en"))
      .toDF("doc_id", "source", "text", "lang")
      .write.parquet(in)
    val outPath = dir.resolve("train.parquet").toString
    val cfg = dir.resolve("jobs.json")
    Files.writeString(cfg,
      s"""{"jobs": [
         |  {"name": "train-set", "input": "$in",
         |   "pipeline": [
         |     {"op": "cap", "maxPerSource": 50},
         |     {"op": "split", "trainFrac": 0.8, "valFrac": 0.1,
         |      "keep": "train"},
         |     {"op": "pack", "budget": 64, "nShards": 2}],
         |   "output": "$outPath"}
         |]}""".stripMargin)
    val results = Main.runJobsCmd(cfg, spark)
    assert(results.map(_._1) == Seq("train-set"))
    assert(results.head._2 > 0)
    val out = spark.read.parquet(outPath)
    assert(out.count() == results.head._2)
    assert(out.columns.contains("shard"))
  }

  test("sessions the packaged commands build get one shuffle partition " +
    "per core unless GRAFT_SHUFFLE_PARTITIONS names a width; a passed-in " +
    "session keeps its own") {
    val key = "spark.sql.shuffle.partitions"
    val own = spark.newSession()
    own.conf.set(key, "3")
    Main.perCoreShuffle(own, Map.empty)
    assert(own.conf.get(key) == spark.sparkContext.defaultParallelism.toString)
    Main.perCoreShuffle(own, Map("GRAFT_SHUFFLE_PARTITIONS" -> "7"))
    assert(own.conf.get(key) == "7")

    val passed = spark.newSession()
    passed.conf.set(key, "3")
    val cfg = Files.createTempDirectory("graft-main-width").resolve("g.json")
    Files.writeString(cfg, """{"streams": []}""")
    val running = Main.start(cfg, Some(passed))
    try assert(passed.conf.get(key) == "3")
    finally running.stop()
  }

  test("the start-up warm-up runs one small job of at most one task per " +
    "core and leaves the session's conf and streams as it found them; " +
    "on a stopped context it logs the failure and does not throw") {
    import org.apache.spark.scheduler._
    val tag = "graft.test.warm-up"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) { tasks.incrementAndGet(); () }
    }
    val conf0 = spark.conf.getAll
    val active0 = spark.streams.active.map(_.id).toSet
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    try {
      Main.warmUp(spark).join()
      org.apache.spark.sql.graft.SessionBridge.awaitListeners(spark)
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get >= 1, "the warm-up ran no job")
    assert(tasks.get >= 1 && tasks.get <= spark.sparkContext.defaultParallelism,
      s"${tasks.get} tasks on ${spark.sparkContext.defaultParallelism} cores")
    assert(spark.conf.getAll == conf0)
    assert(spark.streams.active.map(_.id).toSet == active0)

    // a stopped context, in a JVM of its own: this one's context is shared
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xm")).toSeq
    val log = Files.createTempFile("graft-warm-up", ".log")
    val cmd = Seq(javaBin.toString, "-Xmx1g") ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.WarmUpProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "the probe JVM did not exit")
    val out = Files.readString(log)
    assert(proc.exitValue == 0, out.takeRight(2000))
    assert(out.linesIterator.exists(l => l.startsWith("[graft-warm-up] failed:") &&
      l.contains("stopped SparkContext")), out.takeRight(2000))
    assert(out.contains("WARM-UP RETURNED"))
  }

  test("a restart over a checkpoint made at 32 shuffle partitions keeps " +
    "32 on a session set to 4: every earlier key is still served from " +
    "its recovered state over the wire") {
    val key = "spark.sql.shuffle.partitions"
    val prevWidth = spark.conf.get(key)
    val tcpPort = freePort()
    val tcp2Port = freePort()
    val dir = Files.createTempDirectory("graft-main-restart")
    val cfg = dir.resolve("graft.json")
    // an hour of watermark delay, so the older copies sent after the
    // restart are not late: they reach the recovered state and lose.
    // `keyed` keeps the index op in keyed state (its sink is not the
    // served index), so its checkpoint pins the shuffle width
    Files.writeString(cfg,
      s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $tcpPort},
         |   "tcp2": {"protocol": "tcp", "host": "127.0.0.1", "port": $tcp2Port}},
         | "streams": [
         |   {"name": "index", "source": "tcp",
         |    "pipeline": [{"op": "index", "watermark": "1 hour"}],
         |    "sink": {"kind": "index", "outputMode": "update",
         |             "checkpoint": "${dir.resolve("ckpt")}"}},
         |   {"name": "keyed", "source": "tcp2",
         |    "pipeline": [{"op": "index"}],
         |    "sink": {"kind": "memory",
         |             "checkpoint": "${dir.resolve("ckpt-keyed")}"}}
         |]}""".stripMargin)
    val hosts = (1 to 12).map(i => s"web$i")
    val t = 1706000000L
    def ev(host: String, metric: Double, time: Long) =
      PEvent(host, "cpu", "ok", null, Some(metric), Nil, Some(time),
        Some(86400.0), Map.empty)
    def awaitKeys(running: Main.Running): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (running.index.size < hosts.size &&
          System.currentTimeMillis() < deadline) {
        running.core.activeQueries.values.foreach(_.processAllAvailable())
        Thread.sleep(100)
      }
      assert(running.index.size == hosts.size,
        s"index has ${running.index.size} keys")
    }
    try {
      spark.conf.set(key, "32")
      val first = Main.start(cfg, Some(spark))
      try {
        sendEvents(tcpPort, hosts.zipWithIndex.map { case (h, i) =>
          ev(h, i.toDouble, t) })
        awaitKeys(first)
        sendEvents(tcp2Port, Seq(ev("keyed1", 1.0, t)))
        first.core.activeQueries("keyed").processAllAvailable()
      } finally first.stop()

      spark.conf.set(key, "4")
      val second = Main.start(cfg, Some(spark))
      try {
        assert(spark.conf.get(key) == "4")
        // an older copy of every key: latest-wins against the state
        // recovered from the 32-partition checkpoint re-emits the
        // pre-restart event, so the restarted served index holds it
        sendEvents(tcpPort, hosts.map(h => ev(h, -1.0, t - 60)))
        awaitKeys(second)
        hosts.zipWithIndex.foreach { case (h, i) =>
          val (ok, err, evs) =
            wireQueryOn(tcpPort, s"""host = "$h" and service = "cpu"""")
          assert(ok.contains(true) && err.isEmpty, s"reply: $ok $err")
          assert(evs.map(_.metric) == Seq(Some(i.toDouble)), s"$h: $evs")
        }
        sendEvents(tcp2Port, Seq(ev("keyed2", 2.0, t + 1)))
        val q = second.core.activeQueries("keyed")
        q.processAllAvailable()
        val deadline = System.currentTimeMillis() + 30000
        while ((q.lastProgress == null ||
            q.lastProgress.stateOperators.isEmpty) &&
            System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(q.lastProgress.stateOperators(0).numShufflePartitions == 32)
      } finally second.stop()
    } finally {
      spark.conf.set(key, prevWidth)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** A config with one served index stream on `tcpPort` (and a ws
    * server when `wsPort` is given), checkpointed under `dir`. */
  private def servedIndexConfig(dir: java.nio.file.Path, tcpPort: Int,
      wsPort: Option[Int] = None): java.nio.file.Path = {
    val cfg = dir.resolve("graft.json")
    val ws = wsPort.fold("")(p => s""", "ws": {"port": $p}""")
    Files.writeString(cfg,
      s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $tcpPort}$ws},
         | "streams": [
         |   {"name": "index", "source": "tcp",
         |    "pipeline": [{"op": "index"}],
         |    "sink": {"kind": "index", "outputMode": "update",
         |             "checkpoint": "${dir.resolve("ckpt")}"}}
         |]}""".stripMargin)
    cfg
  }

  test("a restarted process serves every key indexed before the " +
    "restart at once, with no traffic after it") {
    val tcpPort = freePort()
    val cfg = servedIndexConfig(
      Files.createTempDirectory("graft-main-recover"), tcpPort)
    val hosts = (1 to 12).map(i => s"web$i")
    try {
      val first = Main.start(cfg, Some(spark))
      try {
        // one Msg, so one batch: events split over two batches would
        // meet the index op's 0 s watermark, which drops the later ones
        sendMsgs(tcpPort, Seq(hosts.zipWithIndex.map { case (h, i) =>
          PEvent(h, "cpu", "ok", null, Some(i.toDouble), Nil,
            Some(1706000000L), Some(86400.0), Map.empty)
        }))
        first.core.activeQueries("index").processAllAvailable()
        assert(first.index.size == hosts.size)
      } finally first.stop()

      val second = Main.start(cfg, Some(spark))
      try {
        val (ok, err, evs) = wireQueryOn(tcpPort, "true")
        assert(ok.contains(true) && err.isEmpty, s"reply: $ok $err")
        assert(evs.map(e => e.host -> e.metric).toSet ==
          hosts.zipWithIndex.map { case (h, i) => h -> Some(i.toDouble) }.toSet,
          s"dump after restart: $evs")
      } finally second.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("served-path expiry through graft.Main: an event whose ttl the " +
    "watermark passes leaves the index, and one expired copy reaches a " +
    "ws subscriber") {
    val tcpPort = freePort()
    val wsPort = freePort()
    val cfg = servedIndexConfig(
      Files.createTempDirectory("graft-main-expiry"), tcpPort, Some(wsPort))
    val t = 1706000000L
    def ev(host: String, time: Long, ttl: Option[Double]) =
      PEvent(host, "cpu", "ok", null, Some(1.0), Nil, Some(time), ttl,
        Map.empty)
    val running = Main.start(cfg, Some(spark))
    try {
      val q = running.core.activeQueries("index")
      sendEvents(tcpPort, Seq(ev("short", t, Some(5.0))))
      q.processAllAvailable()
      assert(running.index.search("""host = "short"""").nonEmpty)
      val sock = connect(wsPort)
      sock.setSoTimeout(20000)
      try {
        wsHandshake(sock, "/index?query=" +
          java.net.URLEncoder.encode("true", "UTF-8"))
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        // the dump is sent after the subscription is in place
        assert(readFrame(in)._2.contains("short"))
        // a later event moves the watermark past t + 5 s
        sendEvents(tcpPort, Seq(ev("later", t + 60, None)))
        q.processAllAvailable()
        assert(running.index.search("""host = "short"""").isEmpty)
        assert(running.index.size == 1)
        // one more batch: the reaper must not send the copy again
        sendEvents(tcpPort, Seq(ev("last", t + 120, None)))
        q.processAllAvailable()
        val pushes = Iterator.continually(readFrame(in)._2)
          .scanLeft(Vector.empty[String])(_ :+ _)
          .find(_.exists(_.contains("\"last\""))).get
        val expired = pushes.filter(l =>
          l.contains("\"short\"") && l.contains("\"expired\""))
        assert(expired.size == 1, s"pushes: $pushes")
      } finally sock.close()
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("the served index stream has no state store and no shuffle: no " +
    "stateful operator or Exchange in its plan, no state operators in " +
    "its progress, one single-stage job per data trigger") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val tcpPort = freePort()
    val cfg = servedIndexConfig(
      Files.createTempDirectory("graft-main-plan"), tcpPort)
    val running = Main.start(cfg, Some(spark))
    val q = running.core.activeQueries("index")
    val stagesPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("sql.streaming.queryId") == q.id.toString)) {
          stagesPerJob.add(e.stageIds.size); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 3).foreach { i =>
        sendEvents(tcpPort, Seq(PEvent(s"web$i", "cpu", "ok", null,
          Some(i.toDouble), Nil, Some(1706000000L + i), Some(60.0), Map.empty)))
        q.processAllAvailable()
      }
      org.apache.spark.sql.graft.SessionBridge.awaitListeners(spark)
      val dataTriggers = q.recentProgress.count(_.numInputRows > 0)
      assert(dataTriggers >= 1)
      import scala.jdk.CollectionConverters._
      assert(stagesPerJob.asScala.toSeq == Seq.fill(dataTriggers)(1),
        s"stages per job: $stagesPerJob over $dataTriggers data triggers")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect {
        case p: StatefulOperator => p
        case p: Exchange => p
      }.isEmpty, plan.treeString)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a served index data trigger costs what its data costs: after " +
    "warm-up it compiles no code, starts one SQL execution and runs at " +
    "most one task per core in its job") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val tcpPort = freePort()
    val cfg = servedIndexConfig(
      Files.createTempDirectory("graft-main-cost"), tcpPort)
    val running = Main.start(cfg, Some(spark))
    val q = running.core.activeQueries("index")
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val tasksPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("sql.streaming.queryId") == q.id.toString)) {
          tasksPerJob.add(e.stageInfos.map(_.numTasks).sum); ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
        case _ => ()
      }
    }
    // one trigger's frames: one-event Msgs, one more than a task wave
    // has tasks
    def trigger(n: Int): Unit = {
      val frames = spark.sparkContext.defaultParallelism + 1
      sendMsgs(tcpPort, (1 to frames).map(f => Seq(PEvent(s"web$f", "cpu",
        "ok", null, Some(n.toDouble), Nil, Some(1706000000L + n), Some(60.0),
        Map.empty))))
      q.processAllAvailable()
      // the batch commits a moment before its progress is recorded
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.currentBatchId
      val deadline = System.currentTimeMillis() + 30000
      while (Option(q.lastProgress).forall(_.batchId < last) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
    }
    def dataTriggers(): Seq[Long] =
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    try {
      (1 to 2).foreach(trigger)
      org.apache.spark.sql.graft.SessionBridge.awaitListeners(spark)
      val warm = dataTriggers()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.addSparkListener(listener)
      (3 to 5).foreach(trigger)
      org.apache.spark.sql.graft.SessionBridge.awaitListeners(spark)
      val measured = dataTriggers().filterNot(warm.contains)
      assert(measured.size >= 3, s"data triggers ${dataTriggers()}")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        "a warm data trigger compiled generated code")
      assert(executions.get == measured.size,
        s"${executions.get} SQL executions over ${measured.size} data triggers")
      import scala.jdk.CollectionConverters._
      assert(tasksPerJob.asScala.forall(
        _ <= spark.sparkContext.defaultParallelism),
        s"tasks per job: $tasksPerJob")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("version command prints and exits") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Main.main(Array("version")) }
    assert(out.toString.contains("0.11"))
  }

  test("fan-out from ONE tcp server block: two config streams share the " +
    "socket (one bind, one server instance), both see every wire event " +
    "(core.clj:15-20 through the packaged process); reload restarts " +
    "only the edited one") {
    val tcpPort = freePort()
    val dir = Files.createTempDirectory("graft-main-fanout")
    val cfg = dir.resolve("graft.json")
    def writeCfg(expr: String): Unit = Files.writeString(cfg,
      s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $tcpPort}},
         | "streams": [
         |   {"name": "all", "source": "tcp", "pipeline": [],
         |    "sink": {"kind": "memory"}},
         |   {"name": "crit", "source": "tcp",
         |    "pipeline": [{"op": "where", "expr": "$expr"}],
         |    "sink": {"kind": "memory"}}]}""".stripMargin)
    writeCfg("state = 'critical'")
    val running = Main.start(cfg, Some(spark))
    try {
      // one tee consumes the server (one bind), two subscriber queries
      assert(running.core.activeQueries.keySet ==
        Set("all", "crit", "__fanout__tcp"))
      def ev(host: String, metric: Double, t: Long) =
        PEvent(host, "cpu", if (metric > 0.8) "critical" else "ok", null,
          Some(metric), Nil, Some(t), Some(3600.0), Map.empty)
      // one send on ONE socket — proving a single bound server feeds
      // both streams (the pre-fan-out Loader would have double-bound)
      sendEvents(tcpPort, Seq(
        ev("web01", 0.95, 1706000000L), ev("web02", 0.30, 1706000010L)))
      import scala.jdk.CollectionConverters._
      def hosts(n: String) = running.loader.memorySinks.get(n)
        .map(_.rows.asScala.map(_.getAs[String]("host")).toSeq.sorted)
        .getOrElse(Nil)
      val deadline = System.currentTimeMillis() + 30000
      while ((hosts("all").size < 2 || hosts("crit").size < 1) &&
          System.currentTimeMillis() < deadline) {
        running.core.processAllAvailable(); Thread.sleep(100)
      }
      assert(hosts("all") == Seq("web01", "web02"), s"all: ${hosts("all")}")
      assert(hosts("crit") == Seq("web01"), s"crit: ${hosts("crit")}")

      // edit only `crit`: the tee and `all` keep running; post-reload
      // traffic reaches both through the same socket
      val allId = running.core.activeQueries("all").id
      writeCfg("metric > 0.2")
      assert(running.reload() == Seq("crit"))
      assert(running.core.activeQueries("all").id == allId)
      sendEvents(tcpPort, Seq(ev("web03", 0.25, 1706000020L)))
      while ((hosts("all").size < 3 || hosts("crit").size < 2) &&
          System.currentTimeMillis() < deadline) {
        running.core.processAllAvailable(); Thread.sleep(100)
      }
      assert(hosts("all") == Seq("web01", "web02", "web03"))
      assert(hosts("crit").contains("web03"), s"crit: ${hosts("crit")}")
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("modelsKeep retention (VERDICT r17 #8): a configured keep policy " +
    "prunes the artifact store from the packaged process — a long " +
    "deployment self-prunes instead of relying on a manual CLI") {
    import graft.pipeline.Models
    val dir = Files.createTempDirectory("graft-main-models")
    val root = dir.resolve("models").toString
    for (i <- 0 until 2) {
      val p = s"$root/corpus/bpe_$i"
      Models.saveBpe(spark, p, Seq(s"a b$i"), Map("i" -> i.toString))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p, "manifest.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000))
    }
    val cfg = dir.resolve("graft.json")
    Files.writeString(cfg,
      s"""{"modelsKeep": {"root": "$root", "keepPerKind": 1,
         |                "intervalSeconds": 3600},
         | "streams": []}""".stripMargin)
    val running = Main.start(cfg, Some(spark))
    try {
      // the first prune fires immediately (initial delay 0), async
      val deadline = System.currentTimeMillis() + 30000
      while (running.prunedCount < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(running.prunedCount == 1, s"pruned ${running.prunedCount}")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/corpus/bpe_0")))
      assert(Models.loadBpe(spark, s"$root/corpus/bpe_1") == Seq("a b1"))
    } finally {
      running.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}

/** Runs [[Main.warmUp]] on a session whose context has stopped: it
  * must log and return. Prints WARM-UP RETURNED when it does. */
object WarmUpProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("graft-warm-up-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.stop()
    Main.warmUp(spark).join()
    println("WARM-UP RETURNED")
  }
}
