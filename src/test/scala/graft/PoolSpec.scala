package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.sinks.{Pool, Sinks}

/** pool.clj parity: fixed-pool claim/release/invalidate semantics,
  * reconnect-by-regeneration, and the end-to-end degradation contract —
  * a flapping downstream dead-letters batches through Guarded instead
  * of crashing the query (reference src/riemann/pool.clj:1-120,
  * graphite.clj:117-170). */
object PoolProbe {
  @volatile var down = false
  val opened = new AtomicInteger(0)
  val closed = new AtomicInteger(0)
  val sent = new ConcurrentLinkedQueue[String]()
  val failOnce = new AtomicInteger(0)
}

class FakeConn extends Serializable

class PoolSpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10)
    cond
  }

  test("fixed-pool: claim/release recycle; empty pool claim throws the timeout (pool.clj:30-47)") {
    val pool = new Pool.FixedPool[FakeConn](
      () => new FakeConn, _ => (), size = 2,
      regenerateIntervalMs = 10, blockStart = true)
    assert(pool.available == 2)
    val a = pool.claim(100)
    val b = pool.claim(100)
    assert(pool.available == 0)
    intercept[Pool.PoolTimeoutException](pool.claim(50))
    pool.release(a)
    pool.release(b)
    assert(pool.available == 2)
    pool.shutdown()
  }

  test("fixed-pool: invalidate closes the resource and regenerates a fresh one (pool.clj:49-54)") {
    val openN = new AtomicInteger(0)
    val closeN = new AtomicInteger(0)
    val pool = new Pool.FixedPool[FakeConn](
      () => { openN.incrementAndGet(); new FakeConn },
      _ => { closeN.incrementAndGet(); () },
      size = 1, regenerateIntervalMs = 10, blockStart = true)
    val a = pool.claim(100)
    pool.invalidate(a)
    assert(closeN.get == 1)
    assert(awaitTrue(2000)(pool.available == 1), "regen refills the pool")
    assert(openN.get == 2)
    pool.shutdown()
  }

  test("fixed-pool: regen loop retries a failing open until the downstream returns (pool.clj:22-28, 56-62)") {
    val attempts = new AtomicInteger(0)
    val pool = new Pool.FixedPool[FakeConn](
      () => {
        // first three opens fail — "graphite is down"; then it's back
        if (attempts.incrementAndGet() <= 3)
          throw new java.io.IOException("connection refused")
        new FakeConn
      },
      _ => (), size = 1, regenerateIntervalMs = 5, blockStart = false)
    assert(awaitTrue(2000)(pool.available == 1), "pool fills once open succeeds")
    assert(attempts.get == 4)
    pool.shutdown()
  }

  test("fixed-pool: blockStart with a dead downstream returns promptly, " +
    "degrades to claim timeouts, and recovers via the regen loop") {
    val down = new java.util.concurrent.atomic.AtomicBoolean(true)
    val t0 = System.currentTimeMillis()
    val pool = new Pool.FixedPool[FakeConn](
      () => { if (down.get) throw new java.io.IOException("down")
        else new FakeConn },
      _ => (), size = 2, regenerateIntervalMs = 10, blockStart = true)
    // the constructor must NOT wedge in grow() retrying a dead open
    assert(System.currentTimeMillis() - t0 < 2000, "constructor wedged")
    intercept[Pool.PoolTimeoutException](pool.claim(50))
    down.set(false) // downstream comes back: async regen refills
    assert(awaitTrue(3000)(pool.available == 2), "regen never refilled")
    pool.shutdown()
  }

  test("fixed-pool: a release racing shutdown closes the resource " +
    "instead of parking it in the orphaned queue") {
    val closeN = new AtomicInteger(0)
    val pool = new Pool.FixedPool[FakeConn](
      () => new FakeConn, _ => { closeN.incrementAndGet(); () },
      size = 1, regenerateIntervalMs = 10, blockStart = true)
    val a = pool.claim(100)
    pool.shutdown() // drains the (empty) queue; a is still claimed
    pool.release(a)
    assert(closeN.get == 1, "released-after-shutdown resource not closed")
    assert(pool.available == 0)
  }

  test("with-pool: releases on success, invalidates + rethrows on failure (pool.clj:95-117)") {
    val closeN = new AtomicInteger(0)
    val pool = new Pool.FixedPool[FakeConn](
      () => new FakeConn, _ => { closeN.incrementAndGet(); () },
      size = 1, regenerateIntervalMs = 10, blockStart = true)
    assert(pool.withResource(100)(_ => 42) == 42)
    assert(pool.available == 1)
    intercept[java.io.IOException](
      pool.withResource(100)(_ => throw new java.io.IOException("boom")))
    assert(closeN.get == 1)
    assert(awaitTrue(2000)(pool.available == 1))
    pool.shutdown()
  }

  test("pooled transport: transient send failure retries on a fresh connection, lines intact") {
    PoolProbe.sent.clear()
    PoolProbe.failOnce.set(1)
    Pool.shutdownPool("poolspec-transient")
    val transport = new Pool.PooledTransportOf[FakeConn, String](
      id = "poolspec-transient",
      open = () => new FakeConn,
      close = _ => (),
      send = (_, lines) => {
        if (PoolProbe.failOnce.getAndDecrement() > 0)
          throw new java.io.IOException("reset by peer")
        lines.foreach(PoolProbe.sent.add)
      },
      size = 2, claimTimeoutMs = 500, regenerateIntervalMs = 10,
      retries = 1)
    transport(Iterator("a 1 100", "b 2 101"))
    // the retry resent the SAME lines — the iterator was not half-consumed
    assert(PoolProbe.sent.toArray.toSeq == Seq("a 1 100", "b 2 101"))
    Pool.shutdownPool("poolspec-transient")
  }

  test("end-to-end: flapping downstream dead-letters the batch via Guarded, then recovers; pool stays bounded") {
    PoolProbe.down = true
    PoolProbe.opened.set(0)
    PoolProbe.closed.set(0)
    PoolProbe.sent.clear()
    Pool.shutdownPool("poolspec-graphite")
    val transport = new Pool.PooledTransportOf[FakeConn, String](
      id = "poolspec-graphite",
      open = () => { PoolProbe.opened.incrementAndGet(); new FakeConn },
      close = _ => { PoolProbe.closed.incrementAndGet(); () },
      send = (_, lines) => {
        if (PoolProbe.down) throw new java.io.IOException("downstream down")
        lines.foreach(PoolProbe.sent.add)
      },
      size = 2, claimTimeoutMs = 500, regenerateIntervalMs = 10,
      retries = 1)
    val dead = new Sinks.MemorySink
    val guarded = new Sinks.Guarded(
      Sinks.graphite(transport), dead)
    val batch = events(
      E(id = 1, host = "web01", service = "cpu", metric = 0.5, time = 100L),
      E(id = 2, host = "web02", service = "mem", metric = 0.25, time = 101L))
      .coalesce(1)

    // downstream down: the batch write FAILS INSIDE the task, Guarded
    // routes the batch + the riemann exception event to the dead letter,
    // and the query thread survives
    guarded.write(batch, 0L)
    assert(PoolProbe.sent.isEmpty)
    assert(dead.size == 3, "dead letter = 2 batch rows + 1 exception event")

    // downstream back: invalidated connections were regenerated and the
    // next batch flows through the same transport
    PoolProbe.down = false
    assert(awaitTrue(2000)(PoolProbe.opened.get >= PoolProbe.closed.get + 2))
    guarded.write(batch, 1L)
    assert(PoolProbe.sent.size == 2)
    assert(dead.size == 3, "no new dead letters after recovery")

    // bounded churn: opens = initial size + one regen per failed send
    // attempt (2 attempts with retries=1), not one per event or batch
    assert(PoolProbe.opened.get <= 6,
      s"pool churned ${PoolProbe.opened.get} opens")
    Pool.shutdownPool("poolspec-graphite")
  }

  test("default GraphiteSink pools REAL TCP sockets out of the box " +
    "(graphite.clj:128-170 `(graphite {:host …})` defaults)") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val received = new ConcurrentLinkedQueue[String]()
    val acceptor = new Thread(() =>
      try while (!server.isClosed) {
        val s = server.accept()
        val reader = new Thread(() =>
          try {
            val r = new java.io.BufferedReader(new java.io.InputStreamReader(
              s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
            var l = r.readLine()
            while (l != null) { received.add(l); l = r.readLine() }
          } catch { case _: Throwable => () })
        reader.setDaemon(true); reader.start()
      } catch { case _: Throwable => () })
    acceptor.setDaemon(true); acceptor.start()

    try {
      val sink = Sinks.graphite("127.0.0.1", port)
      sink.write(events(
        E(id = 1, host = "web01", service = "cpu", metric = 0.5, time = 100L))
        .coalesce(1), 0L)
      assert(awaitTrue(3000)(received.size == 1),
        s"expected 1 line over the wire, got ${received.size}")
      assert(received.peek == "cpu 0.5 100")
    } finally {
      Pool.shutdownPool(s"tcp:127.0.0.1:$port")
      server.close()
    }
  }

  test("default GraphiteSink against a dead port dead-letters via " +
    "Guarded without crashing, with the pool redialing in background") {
    // grab a port that refuses connections
    val probe = new java.net.ServerSocket(0)
    val deadPort = probe.getLocalPort
    probe.close()

    try {
      val dead = new Sinks.MemorySink
      val guarded = new Sinks.Guarded(
        Sinks.graphite("127.0.0.1", deadPort), dead)
      guarded.write(events(
        E(id = 1, host = "h", service = "cpu", metric = 1.0, time = 100L))
        .coalesce(1), 0L)
      assert(dead.size == 2, "dead letter = 1 batch row + 1 exception event")
    } finally Pool.shutdownPool(s"tcp:127.0.0.1:$deadPort")
  }

  test("tcpFrameTransport: a downstream that accepts frames but never " +
    "acks times out the read instead of wedging the task forever") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    // accept and swallow bytes, never write an ack
    val sink = new Thread(() => {
      try {
        val s = server.accept()
        val in = s.getInputStream
        while (in.read() != -1) ()
      } catch { case _: Throwable => () }
    })
    sink.setDaemon(true)
    sink.start()
    try {
      val t = Pool.tcpFrameTransport("127.0.0.1", port, size = 1,
        retries = 0, readTimeoutMs = 300)
      val frame = Array[Byte](0, 0, 0, 1, 42) // int32 len + 1 payload byte
      val t0 = System.nanoTime()
      intercept[java.net.SocketTimeoutException] {
        t(Iterator(frame))
      }
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs < 5000,
        s"read timed out after ${elapsedMs}ms - SO_TIMEOUT not applied?")
    } finally {
      Pool.shutdownPool(s"riemann:tcp:127.0.0.1:$port")
      server.close()
    }
  }
}
