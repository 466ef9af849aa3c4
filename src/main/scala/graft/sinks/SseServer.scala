package graft.sinks

import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

/** `sse-server` (reference src/riemann/transport/sse.clj:47-170): HTTP
  * clients GET `/index?query=<query-language>` and receive
  * `data: <event-json>\n\n` frames — first the current index search
  * results, then a live pubsub subscription to the "index" channel
  * filtered by the same query, until the client disconnects.
  *
  * The driver hosts the HTTP listener (as with
  * [[graft.sources.RiemannServers]], socket assembly is central — the
  * role netty plays in the reference); the subscription push itself is
  * inherently driver-side fan-out, and per-client volume is a filtered
  * alert stream, not the firehose. All delivery runs through
  * [[PushServer]]'s per-client bounded write queue: a stalled client
  * is dropped instead of blocking `publish`, and a malformed query is
  * rejected with 400 at subscribe time instead of failing later
  * publishes. `snapshot()` supplies the current index relation for the
  * initial dump (None skips it). */
class SseServer(pubsub: Sinks.Pubsub, port: Int,
    snapshot: () => Option[DataFrame] = () => None,
    host: String = "127.0.0.1",
    snapshotEvents: () => Option[Seq[graft.streaming.WireEvent]] =
      () => None)
    extends PushServer(pubsub, port, snapshot, host, "sse", snapshotEvents) {

  private def sseFrame(json: String): Array[Byte] =
    s"data: $json\n\n".getBytes(StandardCharsets.UTF_8)

  override protected def handle(client: Socket, w: ClientWriter): Unit = {
    val head = readHead(client.getInputStream)
    head match {
      case Some(h) if h.path.matches("^/index/?$") =>
        if (!validateQuery(h.query)) { httpError(w, "400 Bad Request"); return }
        w.offer(("HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n" +
          "Cache-Control: no-cache\r\nConnection: keep-alive\r\n\r\n")
          .getBytes(StandardCharsets.UTF_8))
        val sink = subscribeAndDump(w, h.query, sseFrame)
        try {
          // park until disconnect: the client never sends again, so
          // read() returns -1 (or throws) exactly when it drops
          while (running && w.isOpen && client.getInputStream.read() != -1) ()
        } finally pubsub.unsubscribe("index", sink)
      case _ => httpError(w, "404 Not Found")
    }
  }
}
