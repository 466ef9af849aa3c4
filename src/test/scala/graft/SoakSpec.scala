package graft

import java.io.{BufferedReader, DataInputStream, DataOutputStream, InputStreamReader}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Index
import graft.sinks.{Sinks, SseServer}
import graft.sources.{RiemannProtobuf, Sources}
import graft.sources.RiemannProtobuf.PEvent
import graft.streaming.{CombineStreams, KeyedIndex, StreamingRate,
  StreamingRollup, WireEvent}

/** Long-haul chaos soak (the r6 verdict's top item): ONE composed
  * topology — riemann TCP server sources → where → index / rollup /
  * rate / coalesce → SSE push server + alert reinject loop — driven
  * through four phases with the whole [[Core]] config KILLED AND
  * RESTARTED between each (3 restarts), RocksDB state store throughout.
  *
  * What each restart must prove (reference core.clj:105-161 keeps
  * serving across `transition!`; our claim is stronger — keyed STATE
  * survives, because checkpoints carry it, the limitation riemann
  * itself documents in src/riemann/streams/pure.clj:1-30):
  *   - index TTL timers armed in phase 1 fire phases (and restarts)
  *     later, exactly once; a delete in phase 2 disarms a recovered
  *     timer so its key never expires;
  *   - rollup buffers filled before a restart flush after it, with
  *     every event delivered exactly once overall;
  *   - rate interval sums accumulated before a restart emit their tick
  *     after it, exactly once per interval;
  *   - coalesce remembers phase-1 members through 3 restarts;
  *   - the SSE push server + pubsub (driver-side, outside the query
  *     lifecycle) keep one client subscribed across every restart;
  *   - the reinject loop (critical → alert:* event, sent back over the
  *     wire to the same server) composes with all of the above;
  * and the index end-state equals the BATCH oracle ([[Index.liveAt]] /
  * [[Index.expiredAt]] / [[Index.delete]]) over the same events.
  *
  * Restarts are drain-then-stop: state-store recovery, not wire
  * redelivery, is what is under test here — the wire restart path
  * (in-process handoff of acked frames via RiemannServers.parked,
  * at-most-once only across JVM death) has its own soak in
  * RiemannServerSpec, and the flatMapGroupsWithState family has its
  * own kill-and-restart coverage in SoakStatefulSpec. */
class SoakSpec extends SparkSpec {

  import SoakChaos._

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def sevents(df: DataFrame): Dataset[WireEvent] = {
    WireEvent.from(df.select(col("host"), col("service"), col("state"),
      col("metric"), timestamp_seconds(col("time_s")).as("time"), col("ttl")))
  }

  private def pe(host: String, service: String, state: String,
      m: Option[Double], t: Long, ttl: Option[Double] = None) =
    PEvent(host, service, state, null, m, Nil, Some(t), ttl, Map.empty)

  /** Drive all active queries until `cond`; `bump` (e.g. a heartbeat
    * Msg that nudges a no-data batch for timer delivery) fires at most
    * every 1.5 s while waiting. */
  private def drainUntil(core: Core, what: String, bump: () => Unit = () => ())
      (cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    var lastBump = 0L
    while (!cond) {
      assert(System.currentTimeMillis() < deadline,
        s"soak drain timed out waiting for: $what")
      core.activeQueries.values.foreach(_.processAllAvailable())
      if (!cond) {
        if (System.currentTimeMillis() - lastBump > 1500) {
          bump(); lastBump = System.currentTimeMillis()
        }
        Thread.sleep(100)
      }
    }
  }

  test("chaos soak: server -> where -> index/rollup/rate/coalesce -> sse push " +
    "+ reinject survives 3 kill-and-restarts with RocksDB state recovery " +
    "and matches the batch index oracle") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ports = Map("index" -> freePort(), "rollup" -> freePort(),
      "rate" -> freePort(), "coalesce" -> freePort())
    SoakChaos.reset(ports("index"))
    def ckpt(n: String) =
      java.nio.file.Files.createTempDirectory(s"soak_${n}_ckpt").toString
    val ckpts = ports.map { case (n, _) => n -> ckpt(n) }

    val core = new Core(spark)
    core.stream("soak-index") {
      KeyedIndex(
        sevents(Sources.riemannTcpServer(spark, "127.0.0.1", ports("index"))
          .filter(col("service") =!= "noise")), // the `where` stage
        deleteState = Some("delete"))
        .writeStream.option("checkpointLocation", ckpts("index"))
        .foreachBatch(SoakChaos.indexBatch _)
    }
    core.stream("soak-rollup") {
      StreamingRollup(
        sevents(Sources.riemannTcpServer(spark, "127.0.0.1", ports("rollup"))),
        n = 1, dtSeconds = 60)
        .writeStream.option("checkpointLocation", ckpts("rollup"))
        .foreachBatch(SoakChaos.rollupBatch _)
    }
    core.stream("soak-rate") {
      StreamingRate(
        sevents(Sources.riemannTcpServer(spark, "127.0.0.1", ports("rate"))),
        dtSeconds = 60)
        .writeStream.option("checkpointLocation", ckpts("rate"))
        .foreachBatch(SoakChaos.rateBatch _)
    }
    core.stream("soak-coalesce") {
      CombineStreams.coalesce(
        sevents(Sources.riemannTcpServer(spark, "127.0.0.1", ports("coalesce"))))
        .writeStream.option("checkpointLocation", ckpts("coalesce"))
        .foreachBatch(SoakChaos.coalesceBatch _)
    }

    // push server + pubsub live OUTSIDE the query lifecycle (like the
    // reference's netty transports across core reloads): one SSE client
    // stays subscribed through every restart
    val sse = new SseServer(SoakChaos.pubsub, 0)
    val sseSock = new Socket("127.0.0.1", sse.boundPort)
    sseSock.setSoTimeout(120000)
    val sseLines = new ConcurrentLinkedQueue[String]()
    sseSock.getOutputStream.write(
      "GET /index HTTP/1.1\r\nHost: x\r\nAccept: text/event-stream\r\n\r\n"
        .getBytes(StandardCharsets.UTF_8))
    sseSock.getOutputStream.flush()
    val sseReader = new Thread(() => {
      try {
        val in = new BufferedReader(new InputStreamReader(
          sseSock.getInputStream, StandardCharsets.UTF_8))
        var line = in.readLine()
        while (line != null) { sseLines.add(line); line = in.readLine() }
      } catch { case _: java.io.IOException => () }
    }, "soak-sse-client")
    sseReader.setDaemon(true)
    sseReader.start()

    def hasIdx(p: WireEvent => Boolean) = { // probe reads (thread-safe iter)
      var found = false; idx.forEach(e => if (p(e._2)) found = true); found
    }
    def rolledMetrics: Seq[(Int, Seq[Double])] = {
      val out = Seq.newBuilder[(Int, Seq[Double])]
      roll.forEach(p => if (p._2.rolled) {
        out += ((p._1, p._2.events.flatMap(_.metric))); () })
      out.result()
    }
    def rateTicks: Seq[(Int, Long, Option[Double], Option[Double])] = {
      val out = Seq.newBuilder[(Int, Long, Option[Double], Option[Double])]
      rate.forEach(p => { out += ((p._1, p._2.time_s, p._2.rate, p._2.ttl)); () })
      out.result()
    }
    def lastSnapshot: Option[CombineStreams.Snapshot] = {
      var last: Option[CombineStreams.Snapshot] = None
      coal.forEach(p => last = Some(p._2))
      last
    }
    def hbBump(t: Long): () => Unit =
      () => sendMsg(ports("index"), Seq(pe("hb", "hb", "ok", Some(0.0), t)))

    try {
      // ---------------------------------------------------------- phase 1
      SoakChaos.phase = 1
      assert(core.applyConfig().size == 4)
      sendMsg(ports("index"), Seq(
        pe("srv1", "disk", "ok", Some(1.0), 1000, Some(1500.0)), // expires P3
        pe("srv2", "disk", "ok", Some(2.0), 1000, Some(1500.0)), // deleted P2
        pe("srv3", "disk", "ok", Some(3.0), 1000, Some(2800.0)), // expires P4
        pe("web1", "cpu", "ok", Some(0.5), 1001),
        pe("noise1", "noise", "ok", Some(9.9), 1002), // dropped by `where`
        pe("web1", "cpu", "critical", Some(0.97), 1090))) // triggers reinject
      sendMsg(ports("rollup"), Seq(
        pe("r", "api", "ok", Some(101.0), 1010),
        pe("r", "api", "ok", Some(102.0), 1020),
        pe("r", "api", "ok", Some(103.0), 1030)))
      sendMsg(ports("rate"), Seq(
        pe("t", "ops", "ok", Some(6.0), 1005, Some(60.0)),
        pe("t", "ops", "ok", Some(6.0), 1010, Some(60.0))))
      sendMsg(ports("coalesce"), Seq(
        pe("h1", "db", "ok", Some(1.0), 1010),
        pe("h2", "db", "ok", Some(2.0), 1011)))
      // the reinjected alert (sent back over the wire from foreachBatch)
      // must complete the loop within the phase
      drainUntil(core, "phase-1 alert reinject + coalesce snapshot") {
        hasIdx(e => e.service == "alert:cpu" && e.host == "web1") &&
          lastSnapshot.exists(_.events.exists(_.host == "h2")) &&
          roll.size() >= 1
      }
      assert(!hasIdx(_.state == "expired"), "nothing may expire in phase 1")
      core.stop() // ------------------------------------------- restart #1

      // ---------------------------------------------------------- phase 2
      SoakChaos.phase = 2
      assert(core.applyConfig().size == 4)
      sendMsg(ports("index"), Seq(
        pe("srv2", "disk", "delete", None, 2000), // disarm recovered timer
        pe("web2", "cpu", "ok", Some(0.3), 2001),
        pe("web1", "cpu", "ok", Some(0.4), 2002)))
      sendMsg(ports("rollup"), Seq(
        pe("r", "api", "ok", Some(201.0), 2010), // rollover flushes {102,103}
        pe("r", "api", "ok", Some(202.0), 2020),
        pe("r", "api", "ok", Some(203.0), 2030)))
      sendMsg(ports("rate"), Seq(
        pe("t", "ops", "ok", Some(30.0), 2005, Some(60.0)))) // tick 1020 out
      sendMsg(ports("coalesce"), Seq(
        pe("h2", "db", "ok", Some(5.0), 2010),
        pe("h3", "cache", "ok", Some(7.0), 2011)))
      drainUntil(core, "phase-2 recovered rollup buffer + rate tick") {
        hasIdx(e => e.host == "web1" && e.metric.contains(0.4)) &&
          rolledMetrics.exists(_._2.toSet == Set(102.0, 103.0)) &&
          rateTicks.exists(_._2 == 1020) &&
          lastSnapshot.exists(_.events.exists(_.host == "h3"))
      }
      assert(!hasIdx(_.state == "expired"),
        "watermark 2002 is before every deadline — nothing may expire yet")
      core.stop() // ------------------------------------------- restart #2

      // ---------------------------------------------------------- phase 3
      SoakChaos.phase = 3
      assert(core.applyConfig().size == 4)
      sendMsg(ports("index"), Seq(pe("web3", "mem", "ok", Some(0.6), 3000)))
      sendMsg(ports("rollup"), Seq(
        pe("r", "api", "ok", Some(301.0), 3010),
        pe("r", "api", "ok", Some(302.0), 3020),
        pe("r", "api", "ok", Some(303.0), 3030)))
      sendMsg(ports("rate"), Seq(
        pe("t", "ops", "ok", Some(18.0), 3005, Some(60.0))))
      sendMsg(ports("coalesce"), Seq(pe("h4", "cache", "ok", Some(8.0), 3010)))
      // srv1's deadline (1000 + 1500 = 2500) is behind watermark 3000:
      // the timer armed in phase 1 — recovered through TWO restarts —
      // must fire now; srv2's was disarmed by the phase-2 delete
      drainUntil(core, "phase-3 srv1 expiry (timer armed 2 restarts ago)",
        hbBump(3000)) {
        hasIdx(e => e.state == "expired" && e.host == "srv1") &&
          rolledMetrics.exists(_._2.toSet == Set(202.0, 203.0)) &&
          rateTicks.exists(_._2 == 2040)
      }
      assert(!hasIdx(e => e.state == "expired" && e.host == "srv2"),
        "deleted key must not expire — the delete disarmed a RECOVERED timer")
      core.stop() // ------------------------------------------- restart #3

      // ---------------------------------------------------------- phase 4
      SoakChaos.phase = 4
      assert(core.applyConfig().size == 4)
      sendMsg(ports("index"), Seq(pe("web4", "cpu", "ok", Some(0.8), 4000)))
      sendMsg(ports("rollup"), Seq(
        pe("r", "api", "ok", Some(401.0), 4010))) // flushes {302,303}
      sendMsg(ports("rate"), Seq(
        pe("t", "ops", "ok", Some(24.0), 4005, Some(60.0))))
      sendMsg(ports("coalesce"), Seq(pe("h5", "db", "ok", Some(9.0), 4010)))
      drainUntil(core, "phase-4 srv3 expiry (timer armed 3 restarts ago)",
        hbBump(4000)) {
        hasIdx(e => e.state == "expired" && e.host == "srv3") &&
          rolledMetrics.exists(_._2.toSet == Set(302.0, 303.0)) &&
          rateTicks.exists(_._2 == 3060) &&
          lastSnapshot.exists(_.events.exists(_.host == "h5")) &&
          Seq("web1", "web3").forall(h =>
            { var f = false; sseLines.forEach(l => if (l.contains(h)) f = true); f })
      }
    } finally {
      core.stop()
      try sseSock.close() catch { case _: java.io.IOException => () }
      sse.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // ------------------------------------------------- end-state audit
    val recorded = { // (phase, emission) in record order
      val b = Seq.newBuilder[(Int, WireEvent)]
      idx.forEach(e => { b += e; () })
      b.result()
    }
    // exactly-once expiries, stamped at the firing watermark
    val expiries = recorded.filter(_._2.state == "expired")
    assert(expiries.map(e => (e._2.host, e._2.service)).sorted ==
      Seq(("srv1", "disk"), ("srv3", "disk")))
    assert(expiries.map(e => (e._1, e._2.host, e._2.time.getTime / 1000)).toSet ==
      Set((3, "srv1", 3000L), (4, "srv3", 4000L)),
      s"expiries fired in the wrong phase or at the wrong watermark: $expiries")
    // the where stage held: no noise emission anywhere
    assert(!recorded.exists(_._2.service == "noise"))
    // no emission for the deleted key after its tombstone
    assert(!recorded.exists(e => e._2.host == "srv2" && e._2.time.getTime > 2000 * 1000L))

    // streaming end-state (last emission per key, hb/deleted/expired out)
    // vs the BATCH oracle over the same delivered events
    val lastByKey = recorded.map(_._2)
      .filter(e => e.service != "hb" && e.host != "srv2")
      .groupBy(e => (e.host, e.service)).map(_._2.last)
      .filter(_.state != "expired") // a key whose LAST emission expired is gone
    val streamingLive = lastByKey
      .map(e => (e.host, e.service, e.state, e.metric, e.time.getTime / 1000))
      .toSet
    val delivered = events( // everything that passed `where`, in wire order
      E(id = 1, host = "srv1", service = "disk", state = "ok", metric = 1.0, time = 1000L, ttl = 1500.0),
      E(id = 2, host = "srv2", service = "disk", state = "ok", metric = 2.0, time = 1000L, ttl = 1500.0),
      E(id = 3, host = "srv3", service = "disk", state = "ok", metric = 3.0, time = 1000L, ttl = 2800.0),
      E(id = 4, host = "web1", service = "cpu", state = "ok", metric = 0.5, time = 1001L),
      E(id = 5, host = "web1", service = "cpu", state = "critical", metric = 0.97, time = 1090L),
      E(id = 6, host = "web1", service = "alert:cpu", state = "ok", metric = 0.97, time = 1091L),
      E(id = 7, host = "web2", service = "cpu", state = "ok", metric = 0.3, time = 2001L),
      E(id = 8, host = "web1", service = "cpu", state = "ok", metric = 0.4, time = 2002L),
      E(id = 9, host = "web3", service = "mem", state = "ok", metric = 0.6, time = 3000L),
      E(id = 10, host = "web4", service = "cpu", state = "ok", metric = 0.8, time = 4000L))
    val tombstones = events(
      E(id = 100, host = "srv2", service = "disk", state = "delete", time = 2000L))
    def keyed(df: DataFrame) = df
      .select("host", "service", "state", "metric", "time_s").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getLong(4))).toSet
    val oracleLive = keyed(Index.delete(Index.liveAt(delivered, lit(4000L)), tombstones))
    assert(streamingLive == oracleLive,
      s"streaming end-state diverged from the batch oracle:\n  streaming=$streamingLive\n  oracle=$oracleLive")
    val oracleExpired = Index.delete(Index.expiredAt(delivered, lit(4000L)), tombstones)
      .select("host", "service").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(expiries.map(e => (e._2.host, e._2.service)).toSet == oracleExpired)

    // rollup: every event delivered exactly once (pass-through or rolled),
    // and every buffer flushed AFTER the restart that followed its fill
    val rollDelivered = {
      val b = Seq.newBuilder[Double]
      roll.forEach(p => { b ++= p._2.events.flatMap(_.metric); () })
      b.result()
    }
    assert(rollDelivered.sorted == Seq(101.0, 102.0, 103.0, 201.0, 202.0,
      203.0, 301.0, 302.0, 303.0, 401.0),
      s"rollup lost or duplicated events across restarts: $rollDelivered")
    val crossRestartFlushes = rolledMetrics.collect {
      case (ph, ms) if ms.nonEmpty && ph > (ms.max / 100).toInt => ms.toSet }
    assert(crossRestartFlushes.toSet ==
      Set(Set(102.0, 103.0), Set(202.0, 203.0), Set(302.0, 303.0)),
      s"every rolled buffer must flush one restart after it filled: $rolledMetrics")

    // rate: exactly the three expected ticks, each emitted one phase
    // (= one restart) after its interval's events, carried ttl intact
    assert(rateTicks.map(t => (t._2, t._3, t._4)).sorted ==
      Seq((1020L, Some(0.2), Some(60.0)), (2040L, Some(0.5), Some(60.0)),
        (3060L, Some(0.3), Some(60.0))),
      s"rate ticks diverged: $rateTicks")
    assert(rateTicks.map(t => (t._2, t._1)).sorted ==
      Seq((1020L, 2), (2040L, 3), (3060L, 4)))

    // coalesce: the final snapshot remembers phase-1 members through
    // three restarts
    val finalSet = lastSnapshot.get.events
      .map(e => (e.service, e.host, e.metric.get)).toSet
    assert(finalSet == Set(("db", "h1", 1.0), ("db", "h2", 5.0),
      ("cache", "h3", 7.0), ("cache", "h4", 8.0), ("db", "h5", 9.0)),
      s"coalesce end snapshot diverged: $finalSet")
  }
}

/** Driver-side probes + the reinject transport, static so the
  * foreachBatch closures reach the same state regardless of how the
  * engine re-instantiates them across restarts. Each probe dedupes by
  * batchId: foreachBatch is at-least-once, and a replayed batch after a
  * restart must not double-count (the same guard ReinjectLoop uses). */
object SoakChaos {
  @volatile var phase = 0
  @volatile var indexPort = 0
  val pubsub = new Sinks.Pubsub

  val idx = new ConcurrentLinkedQueue[(Int, WireEvent)]()
  val roll = new ConcurrentLinkedQueue[(Int, StreamingRollup.Emission)]()
  val rate = new ConcurrentLinkedQueue[(Int, StreamingRate.RateEmission)]()
  val coal = new ConcurrentLinkedQueue[(Int, CombineStreams.Snapshot)]()
  private val idxLast, rollLast, rateLast, coalLast = new AtomicLong(-1)

  def reset(port: Int): Unit = {
    indexPort = port; phase = 0
    Seq(idx, roll, rate, coal).foreach(_.clear())
    Seq(idxLast, rollLast, rateLast, coalLast).foreach(_.set(-1))
  }

  /** One framed Msg carrying `es`, acked (the test's riemann client —
    * also the reinject loop's return path). */
  def sendMsg(port: Int, es: Seq[PEvent]): Unit = {
    var last: Exception = null
    (1 to 100).foreach { _ =>
      try {
        val sock = new Socket("127.0.0.1", port)
        try {
          val out = new DataOutputStream(sock.getOutputStream)
          out.write(RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(es)))
          out.flush()
          val in = new DataInputStream(sock.getInputStream)
          val len = in.readInt()
          in.readFully(new Array[Byte](len))
          return
        } finally sock.close()
      } catch { case e: java.io.IOException => last = e; Thread.sleep(100) }
    }
    throw last
  }

  def indexBatch(b: Dataset[WireEvent], id: Long): Unit =
    if (id > idxLast.get) {
      idxLast.set(id)
      val rows = b.collect()
      rows.foreach(e => idx.add((phase, e)))
      if (rows.nonEmpty) {
        val sp = b.sparkSession
        import sp.implicits._
        // push path: publish the batch to the "index" channel — the SSE
        // server fans it out to subscribed clients
        pubsub.publish("index", rows.toSeq.toDF(), id)
      }
      // reinject loop: critical updates become alert:* events sent back
      // over the wire to the same server (guard: alerts never re-alert)
      val alerts = rows.toSeq
        .filter(e => e.state == "critical" && !e.service.startsWith("alert:"))
        .map(e => PEvent(e.host, "alert:" + e.service, "ok", null, e.metric,
          Nil, Some(e.time.getTime / 1000 + 1), None, Map.empty))
      if (alerts.nonEmpty) sendMsg(indexPort, alerts)
    }

  def rollupBatch(b: Dataset[StreamingRollup.Emission], id: Long): Unit =
    if (id > rollLast.get) {
      rollLast.set(id)
      b.collect().foreach(e => roll.add((phase, e)))
    }

  def rateBatch(b: Dataset[StreamingRate.RateEmission], id: Long): Unit =
    if (id > rateLast.get) {
      rateLast.set(id)
      b.collect().foreach(e => rate.add((phase, e)))
    }

  def coalesceBatch(b: Dataset[CombineStreams.Snapshot], id: Long): Unit =
    if (id > coalLast.get) {
      coalLast.set(id)
      b.collect().foreach(e => coal.add((phase, e)))
    }
}
