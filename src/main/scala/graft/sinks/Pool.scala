package graft.sinks

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Bounded connection pooling for sink transports (reference
  * `src/riemann/pool.clj:1-120` fixed-pool / with-pool, and its use in
  * e.g. `graphite.clj:128-170`): a fixed set of connections, a small
  * claim timeout, and invalidate-on-error — the failed connection is
  * closed and a background loop re-opens a replacement every
  * regenerate-interval until the downstream comes back. A flapping
  * downstream therefore degrades to claim-timeouts (events drop, or
  * batches dead-letter through [[Sinks.Guarded]]) instead of wedging
  * the stream on a dead socket.
  *
  * Spark placement: the reference pools inside one process; here the
  * pool lives per executor JVM — [[Pool.PooledTransport]] ships the
  * open/close/send recipe to executors and each JVM lazily builds its
  * own pool on first use (keyed by id, shared across that executor's
  * tasks). At 1000 executors that is 1000 independent small pools, the
  * same per-process contract the reference runs with. */
object Pool {

  /** Claim timed out — the pool.clj `::timeout` throw+ (pool.clj:40-43). */
  final case class PoolTimeoutException(timeoutMs: Long)
    extends RuntimeException(
      s"Couldn't claim a resource from the pool within $timeoutMs ms")

  /** pool.clj:20-93 FixedQueuePool + fixed-pool: `size` resources built
    * from `open`, recycled through a blocking queue.
    *
    * - `claim` polls with a timeout and THROWS [[PoolTimeoutException]]
    *   when nothing frees up (pool.clj:33-43) — callers treat that as
    *   "downstream down".
    * - `invalidate` closes the resource (close errors only logged,
    *   pool.clj:49-54) and regrows asynchronously: the regen loop
    *   retries `open` every `regenerateIntervalMs` until it succeeds,
    *   exactly the reconnect behavior graphite.clj documents.
    * - `blockStart` (pool.clj:65-66, 91-92): wait for the initial
    *   connections before returning, or open them in the background.
    *
    * Correct only when every successful claim is followed by exactly
    * one release OR invalidate (pool.clj:68-72) — [[withResource]]
    * provides that guarantee. */
  final class FixedPool[A <: AnyRef](
      open: () => A,
      close: A => Unit,
      val size: Int,
      regenerateIntervalMs: Long,
      blockStart: Boolean) {
    require(size > 0, "pool size must be positive")

    private val queue = new LinkedBlockingQueue[A](size)
    @volatile private var closed = false

    /** pool.clj:22-28 grow: loop until one open succeeds (or the pool
      * shuts down), sleeping regenerate-interval between failures. */
    private def grow(): Unit = {
      var done = false
      while (!done && !closed) {
        val opened =
          try Some(open())
          catch { case NonFatal(_) => None }
        opened match {
          case Some(a) =>
            queue.put(a)
            // a shutdown that raced the open: drain what we just added
            if (closed) drainAndClose()
            done = true
          case None => Thread.sleep(regenerateIntervalMs)
        }
      }
    }

    private def growAsync(): Unit = {
      val t = new Thread(() => grow(), "graft-pool-regen")
      t.setDaemon(true)
      t.start()
    }

    /** blockStart tries each slot's open ONCE synchronously (so a
      * healthy downstream yields a fully-connected pool before the
      * constructor returns) and hands failures to the async regen loop
      * — a downstream that is down at first use must degrade to claim
      * timeouts, not wedge the constructing task in grow() forever
      * (`closed` can't even be set until the constructor returns). */
    if (blockStart) (1 to size).foreach { _ =>
      // no shutdown race here: `closed` cannot be set until the
      // constructor returns, so a successful open goes straight in
      try queue.put(open())
      catch { case NonFatal(_) => growAsync() }
    }
    else (1 to size).foreach(_ => growAsync())

    /** Resources currently idle in the pool (diagnostics/tests). */
    def available: Int = queue.size

    def claim(timeoutMs: Long): A = {
      val a = queue.poll(timeoutMs, TimeUnit.MILLISECONDS)
      if (a == null) throw PoolTimeoutException(timeoutMs)
      a
    }

    /** Return a claimed resource; after shutdown the pool is drained,
      * so re-queue and immediately re-drain (grow()'s race pattern) —
      * otherwise a release racing shutdown would park a live
      * connection in an orphaned queue, unclosed forever. */
    def release(a: A): Unit = if (a != null) {
      queue.put(a)
      if (closed) drainAndClose()
    }

    def invalidate(a: A): Unit = if (a != null) {
      try close(a)
      catch {
        case NonFatal(e) => org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"closing pooled resource threw", e)
      }
      growAsync()
    }

    /** pool.clj:95-117 with-pool: claim, run, release; on any failure
      * invalidate (close + background regen) and rethrow. */
    def withResource[T](timeoutMs: Long)(f: A => T): T = {
      val a = claim(timeoutMs)
      var ok = false
      try { val r = f(a); release(a); ok = true; r }
      finally if (!ok) invalidate(a)
    }

    private def drainAndClose(): Unit = {
      var a = queue.poll()
      while (a != null) {
        try close(a) catch { case NonFatal(_) => () }
        a = queue.poll()
      }
    }

    /** Stop regen loops and close every idle connection. Claimed
      * resources are closed by their eventual release/invalidate. */
    def shutdown(): Unit = {
      closed = true
      drainAndClose()
    }
  }

  /** Per-JVM pool registry: tasks of one executor share the pool for a
    * given transport id; distinct executors each build their own. */
  private val pools = TrieMap.empty[String, FixedPool[AnyRef]]

  private[sinks] def poolFor[A <: AnyRef](
      id: String, open: () => A, close: A => Unit, size: Int,
      regenerateIntervalMs: Long, blockStart: Boolean): FixedPool[A] =
    (pools.get(id) match {
      case Some(p) => p
      case None =>
        // creation-only lock: TrieMap.getOrElseUpdate evaluates its
        // thunk OUTSIDE the atomic insert, so two first-use tasks
        // racing would each dial `size` real connections (blockStart)
        // and one set would be torn down immediately — a 2x connect
        // burst against rate-limited downstreams. Creation happens
        // once per (executor, id); the steady-state path above never
        // takes the lock.
        Pool.synchronized {
          pools.getOrElseUpdate(id, new FixedPool[AnyRef](
            () => open(), a => close(a.asInstanceOf[A]), size,
            regenerateIntervalMs, blockStart))
        }
    }).asInstanceOf[FixedPool[A]]

  /** Drop (and close) the pool registered under `id` — tests and
    * explicit teardown. */
  def shutdownPool(id: String): Unit =
    pools.remove(id).foreach(_.shutdown())

  /** A pooled line transport, pluggable wherever sinks take
    * `Iterator[String] => Unit` ([[Sinks.graphite]],
    * [[Metrics.influxDb]], …). Serializable recipe, per-JVM pool:
    * each partition write claims a connection (claim timeout ≈
    * graphite.clj's 0.1 s default), sends, releases; a send failure
    * invalidates the connection and retries on a freshly claimed one up
    * to `retries` times before rethrowing — at which point the batch
    * fails and [[Sinks.Guarded]] (when wrapped) routes it to the
    * dead-letter sink, the Spark reading of "silently drops events when
    * graphite is down" (graphite.clj:117-119) with the drop made
    * observable instead of silent. */
  final class PooledTransportOf[C <: AnyRef, P](
      id: String,
      open: () => C,
      close: C => Unit,
      send: (C, Iterator[P]) => Unit,
      size: Int = 4,
      claimTimeoutMs: Long = 100,
      regenerateIntervalMs: Long = 5000,
      blockStart: Boolean = true,
      retries: Int = 1)
      extends (Iterator[P] => Unit) with Serializable {

    override def apply(lines: Iterator[P]): Unit = {
      val pool = Pool.poolFor(id, open, close, size,
        regenerateIntervalMs, blockStart)
      // the claim-send-release cycle may consume the iterator: buffer
      // once so a retry resends the same lines, not an empty tail
      val buffered = lines.toIndexedSeq
      var attempt = 0
      var done = false
      while (!done) {
        try {
          pool.withResource(claimTimeoutMs)(c => send(c, buffered.iterator))
          done = true
        } catch {
          // NonFatal only: an interrupt (Spark task kill) or a fatal VM
          // error must propagate, not be retried against a downstream
          // the task was told to abandon
          case NonFatal(_) if attempt < retries => attempt += 1
        }
      }
    }
  }

  /** Line-payload pooled transport — the shape every text-protocol
    * sink consumes (`Iterator[String] => Unit`). */
  type PooledTransport[C <: AnyRef] = PooledTransportOf[C, String]

  /** The production default line transport: pooled TCP sockets with
    * graphite.clj:128-170's defaults (pool-size 4, claim-timeout 0.1 s,
    * reconnect-interval 5 s, block-start) — what `(graphite {:host …})`
    * gives a riemann user out of the box. Newline-terminated UTF-8
    * lines, flushed once per partition batch; a send failure closes the
    * socket (invalidate) and the regen loop redials until the
    * downstream returns. */
  def tcpLineTransport(
      host: String, port: Int,
      size: Int = 4,
      claimTimeoutMs: Long = 100,
      regenerateIntervalMs: Long = 5000,
      blockStart: Boolean = true,
      retries: Int = 1,
      connectTimeoutMs: Int = 5000): PooledTransport[java.net.Socket] =
    new PooledTransport[java.net.Socket](
      id = s"tcp:$host:$port",
      open = () => {
        val s = new java.net.Socket()
        s.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
        s
      },
      close = s => try s.close() catch { case NonFatal(_) => () },
      send = (s, lines) => {
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        lines.foreach { l => w.write(l); w.write('\n') }
        w.flush()
      },
      size = size, claimTimeoutMs = claimTimeoutMs,
      regenerateIntervalMs = regenerateIntervalMs, blockStart = blockStart,
      retries = retries)

  /** Pooled framed riemann-forward transport (the client side of the
    * wire: streams.clj:1255-1261 `forward` / the riemann TCP client):
    * writes int32-framed protobuf Msg payloads, then reads ONE ack
    * frame per Msg sent — the synchronous-client contract, so a dead
    * or slow downstream is detected on THIS batch (and dead-letters
    * via Guarded) rather than silently buffering in the socket.
    * `tls` speaks mutual TLS to a `tlskeystore`-configured riemann
    * server ([[graft.TlsFiles]]). */
  def tcpFrameTransport(
      host: String, port: Int,
      tls: Option[graft.TlsFiles] = None,
      size: Int = 4,
      claimTimeoutMs: Long = 100,
      regenerateIntervalMs: Long = 5000,
      blockStart: Boolean = true,
      retries: Int = 1,
      connectTimeoutMs: Int = 5000,
      readTimeoutMs: Int = 10000)
      : PooledTransportOf[java.net.Socket, Array[Byte]] =
    new PooledTransportOf[java.net.Socket, Array[Byte]](
      id = s"riemann:${if (tls.isDefined) "tls" else "tcp"}:$host:$port",
      open = () => {
        val s = tls match {
          case Some(t) => t.context().getSocketFactory.createSocket()
          case None => new java.net.Socket()
        }
        s.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
        // the ack-drain loop below does blocking reads; without a read
        // timeout a downstream that accepts frames but never acks (GC
        // pause, half-dead NAT flow) would wedge the executor task
        // forever — the exact failure this transport exists to surface
        s.setSoTimeout(readTimeoutMs)
        s
      },
      close = s => try s.close() catch { case NonFatal(_) => () },
      send = (s, frames) => {
        val out = new java.io.BufferedOutputStream(s.getOutputStream)
        val in = new java.io.DataInputStream(s.getInputStream)
        var sent = 0
        frames.foreach { f => out.write(f); sent += 1 }
        out.flush()
        var i = 0
        while (i < sent) { // drain the per-Msg acks
          val len = in.readInt()
          in.skipNBytes(len.toLong)
          i += 1
        }
      },
      size = size, claimTimeoutMs = claimTimeoutMs,
      regenerateIntervalMs = regenerateIntervalMs, blockStart = blockStart,
      retries = retries)

  /** Pooled HTTP POST transport for body-per-batch sinks (InfluxDB's
    * `/write`, OpenTSDB's `/api/put`, …): each partition's lines join
    * into one newline-separated body POSTed to `url`. Divergence from
    * the TCP pool, documented: HTTP connections are not long-lived
    * resources here (the JDK's keep-alive cache reuses sockets under
    * the hood), so what the pool bounds is in-flight request
    * concurrency per executor — claim-timeout and retry semantics are
    * identical to the reference's with-pool wrapping. Non-2xx responses
    * throw, so a failing downstream dead-letters through
    * [[Sinks.Guarded]] exactly like a TCP failure. */
  def httpPostTransport(
      url: String,
      headers: Map[String, String] = Map.empty,
      size: Int = 4,
      claimTimeoutMs: Long = 100,
      retries: Int = 1,
      connectTimeoutMs: Int = 5000): PooledTransport[java.net.URL] =
    new PooledTransport[java.net.URL](
      id = s"http:$url",
      open = () => new java.net.URI(url).toURL,
      close = _ => (),
      send = (u, lines) => {
        val body = lines.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8)
        val conn = u.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setConnectTimeout(connectTimeoutMs)
          conn.setReadTimeout(connectTimeoutMs)
          conn.setRequestMethod("POST")
          headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
          conn.setDoOutput(true)
          conn.getOutputStream.write(body)
          val code = conn.getResponseCode
          if (code >= 300)
            throw new java.io.IOException(s"HTTP $code from $u")
        } finally {
          // drain + close the streams WITHOUT disconnect(): disconnect
          // closes the underlying socket, which would defeat the JDK
          // keep-alive reuse the doc above relies on — every batch
          // would pay a fresh TCP (and TLS) handshake. close() runs in
          // a finally so a mid-drain reset/timeout cannot leak the
          // stream; a connection whose drain failed is broken mid-body,
          // so it IS disconnected — keep-alive must never hand the
          // poisoned socket to the next batch.
          def drain(s: java.io.InputStream): Boolean =
            if (s == null) true
            else try { while (s.read() != -1) (); true }
            catch { case NonFatal(_) => false }
            finally { try s.close() catch { case NonFatal(_) => () } }
          val drained =
            drain(try conn.getInputStream catch { case NonFatal(_) => null }) &
              drain(conn.getErrorStream)
          if (!drained) conn.disconnect()
        }
      },
      size = size, claimTimeoutMs = claimTimeoutMs,
      regenerateIntervalMs = 1000, blockStart = true, retries = retries)
}
