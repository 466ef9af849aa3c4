package graft.sinks

import java.net.{InetSocketAddress, ServerSocket, Socket, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.query.QueryLanguage

/** Shared machinery for the HTTP push transports ([[SseServer]] /
  * [[WsServer]]): the accept loop, HTTP request-head parsing, a
  * per-client bounded write queue drained by ONE writer thread, and
  * the subscribe-then-dump lifecycle.
  *
  * The write queue is the load-bearing piece: pushes from publisher
  * threads, protocol frames from the reader thread, and the initial
  * dump all enqueue encoded bytes, so frames never interleave
  * mid-frame and a stalled client can never block `Pubsub.publish` —
  * when a client's queue fills, the client is dropped (the reference
  * leans on netty's channel close for the same policy). */
private[sinks] abstract class PushServer(val pubsub: Sinks.Pubsub, port: Int,
    snapshot: () => Option[DataFrame], host: String, threadPrefix: String,
    snapshotEvents: () => Option[Seq[graft.streaming.WireEvent]] =
      () => None) {

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(host, port))
  @volatile protected var running = true
  private val clients = new ArrayBuffer[ClientWriter]()

  val boundPort: Int = server.getLocalPort

  /** Per-protocol connection handler; all writes go through `w`. */
  protected def handle(client: Socket, w: ClientWriter): Unit

  /** One writer thread per client: FIFO over encoded frames. `offer`
    * never blocks — a full queue means the client stopped reading, and
    * it is disconnected rather than stalling the publisher. */
  protected final class ClientWriter(val socket: Socket, capacity: Int = 1024) {
    private val poison = new Array[Byte](0)
    private val q = new LinkedBlockingQueue[Array[Byte]](capacity)
    @volatile private var open = true
    private val writer = new Thread(() =>
      try {
        val out = socket.getOutputStream
        var b = q.take()
        while (!(b eq poison)) {
          out.write(b)
          out.flush()
          b = q.take()
        }
      } catch { case _: Exception => () }
      finally closeSocket(), s"$threadPrefix-writer-${socket.getPort}")
    writer.setDaemon(true)
    writer.start()

    def offer(bytes: Array[Byte]): Unit =
      if (open && !q.offer(bytes)) closeNow() // slow client: drop, don't stall
    def isOpen: Boolean = open
    /** Graceful: queued frames (e.g. the 404/close just offered) drain
      * before the socket closes. */
    def close(): Unit = if (open) {
      open = false
      if (!q.offer(poison)) closeNow()
    }
    /** Immediate: for stalled clients and server shutdown. */
    def closeNow(): Unit = { open = false; writer.interrupt(); closeSocket() }
    private def closeSocket(): Unit = {
      try socket.close() catch { case _: java.io.IOException => () }
      clients.synchronized { clients -= this; () }
    }
  }

  private val acceptor = new Thread(() =>
    try {
      while (running) {
        val client = server.accept()
        val w = new ClientWriter(client)
        clients.synchronized(clients += w)
        val t = new Thread(() =>
          try handle(client, w)
          catch { case _: java.io.IOException => () }
          finally w.close(), s"$threadPrefix-conn-${client.getPort}")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: java.io.IOException => () }, s"$threadPrefix-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = {
    running = false
    server.close()
    clients.synchronized(clients.toVector).foreach(_.closeNow())
  }

  // ------------------------------------------------------- HTTP plumbing
  protected case class HttpHead(method: String, path: String,
      query: Option[String], headers: Map[String, String])

  /** Byte-wise request-head read: nothing past the blank line is
    * consumed (the first ws frame follows immediately). */
  protected final def readHead(in: java.io.InputStream): Option[HttpHead] = {
    val head = new StringBuilder
    var c = in.read()
    while (c != -1 && !head.endsWith("\r\n\r\n")) {
      head.append(c.toChar)
      c = if (head.endsWith("\r\n\r\n")) -1 else in.read()
    }
    val lines = head.toString.split("\r\n")
    val parts = lines.headOption.getOrElse("").split(" ")
    if (parts.length < 2) None
    else {
      val (path, rawQuery) = parts(1).split("\\?", 2) match {
        case Array(p, q) => (p, Some(q))
        case Array(p) => (p, None)
      }
      val headers = lines.drop(1).takeWhile(_.nonEmpty).flatMap { l =>
        l.split(":", 2) match {
          case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
          case _ => None
        }
      }.toMap
      Some(HttpHead(parts(0), path,
        rawQuery.flatMap(_.split("&").collectFirst {
          case kv if kv.startsWith("query=") =>
            URLDecoder.decode(kv.stripPrefix("query="), "UTF-8")
        }).filter(_.nonEmpty), headers))
    }
  }

  protected final def httpError(w: ClientWriter, status: String): Unit =
    w.offer(s"HTTP/1.1 $status\r\nContent-Length: 0\r\n\r\n"
      .getBytes(StandardCharsets.UTF_8))

  // ------------------------------------------------- subscribe lifecycle
  protected final def jsonLines(batch: DataFrame): Array[String] =
    batch.select(to_json(struct(batch.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getString(0))

  /** Stream a relation's JSON lines without materializing the whole
    * relation on the driver: toLocalIterator holds one partition at a
    * time, so an index dump at 100x pkey cardinality is bounded by
    * partition size, and the client writer's bounded queue provides
    * the backpressure. Used for dumps; per-batch pushes stay on
    * [[jsonLines]] (batches arrive pre-bounded). */
  protected final def jsonLineStream(batch: DataFrame)(f: String => Unit): Unit = {
    val it = batch
      .select(to_json(struct(batch.columns.toIndexedSeq.map(col): _*)))
      .toLocalIterator()
    while (it.hasNext) f(it.next().getString(0))
  }

  /** Validate the query BEFORE subscribing — an unparseable client
    * query must fail the one client, never a later publish (where it
    * would abort delivery to every subscriber). */
  protected final def validateQuery(query: Option[String]): Boolean =
    try { query.foreach(QueryLanguage.parse); true }
    catch { case scala.util.control.NonFatal(_) => false }

  /** Subscribe FIRST (buffering pushes), then stream the index dump,
    * then flush the buffer: no event published between the dump's
    * collect and the subscription can be lost (the reference dumps
    * first and has that gap). A duplicate is possible when a publish
    * lands in the snapshot AND the buffer — duplication over loss. */
  protected final def subscribeAndDump(w: ClientWriter,
      query: Option[String], encode: String => Array[Byte]): Sinks.EventSink = {
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var dumping = true
    object sink extends Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit = {
        val lines = jsonLines(batch)
        pending.synchronized {
          if (dumping) lines.foreach(pending.add)
          else lines.foreach(j => w.offer(encode(j)))
        }
      }
    }
    query match {
      case Some(q) => pubsub.subscribeQuery("index", q, sink)
      case None => pubsub.subscribe("index", sink)
    }
    // the dump: Spark-free when the owner serves an in-memory index
    // (Main's ServedIndex) — the compiled-closure predicate over the
    // event snapshot, no per-client Spark job; the DataFrame path
    // remains for callers that only have a relation
    snapshotEvents() match {
      case Some(events) =>
        val pred = query.map(graft.query.EventPredicate(_))
        events.iterator
          .filter(e => pred.forall(_(e)))
          .foreach(e => w.offer(encode(EventJson.line(e))))
      case None =>
        snapshot().foreach { idx =>
          val hits = query.fold(idx)(q =>
            idx.filter(QueryLanguage.predicate(q, idx.schema)))
          jsonLineStream(hits)(j => w.offer(encode(j)))
        }
    }
    pending.synchronized {
      dumping = false
      var j = pending.poll()
      while (j != null) { w.offer(encode(j)); j = pending.poll() }
    }
    sink
  }
}
