package graft.sinks

import java.io.{BufferedInputStream, DataInputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

import org.apache.spark.sql.DataFrame

/** `ws-server` (reference src/riemann/transport/websockets.clj:83-243):
  * the two websocket endpoints —
  *
  *  - `GET /index?query=…` + upgrade: current index hits, then a live
  *    pubsub subscription filtered by the query, each event one text
  *    frame of JSON (ws-pubsub-handler / ws-index);
  *  - `GET|PUT /events` + upgrade: each inbound text message is one
  *    JSON event handed to `onEvent` (ws-put-events-handler) — wire it
  *    to a [[graft.streaming.ReinjectLoop]] or a `from_json` decode
  *    against `Event.schema` (the same decode the kafka source uses).
  *
  * RFC 6455 is hand-rolled on the JDK (SHA-1 + Base64 handshake,
  * masked client frames, fragmentation reassembly, ping/pong ≤ 125
  * bytes per §5.5, close) — no dependencies. Delivery runs through
  * [[PushServer]]'s per-client queue, so pongs from the reader thread
  * and pushes from publisher threads never interleave mid-frame. */
class WsServer(pubsub: Sinks.Pubsub, port: Int,
    snapshot: () => Option[DataFrame] = () => None,
    onEvent: String => Unit = _ => (),
    host: String = "127.0.0.1",
    snapshotEvents: () => Option[Seq[graft.streaming.WireEvent]] =
      () => None)
    extends PushServer(pubsub, port, snapshot, host, "ws", snapshotEvents) {

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  private def acceptKey(key: String): String =
    Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + WsGuid).getBytes(StandardCharsets.US_ASCII)))

  /** One server→client text frame (FIN, unmasked). */
  private[sinks] def textFrame(payload: String): Array[Byte] = {
    val data = payload.getBytes(StandardCharsets.UTF_8)
    val header =
      if (data.length < 126) Array[Byte](0x81.toByte, data.length.toByte)
      else if (data.length <= 0xffff)
        Array[Byte](0x81.toByte, 126,
          (data.length >> 8).toByte, data.length.toByte)
      else Array[Byte](0x81.toByte, 127, 0, 0, 0, 0,
        (data.length >> 24).toByte, (data.length >> 16).toByte,
        (data.length >> 8).toByte, data.length.toByte)
    header ++ data
  }

  /** Read one client frame: (fin, opcode, payload) — client frames
    * MUST be masked (RFC 6455 §5.1). */
  private def readFrame(in: DataInputStream): (Boolean, Int, Array[Byte]) = {
    val b0 = in.readUnsignedByte()
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0f
    val b1 = in.readUnsignedByte()
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = in.readUnsignedShort().toLong
    else if (len == 127) len = in.readLong()
    // readLong is signed: a negative length is as hostile as a huge one
    if (len < 0 || len > (16 << 20))
      throw new java.io.IOException(s"bad frame length $len")
    val mask = if (masked) {
      val m = new Array[Byte](4); in.readFully(m); m
    } else null
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    if (masked) {
      var i = 0
      while (i < payload.length) {
        payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1
      }
    }
    (fin, opcode, payload)
  }

  override protected def handle(client: Socket, w: ClientWriter): Unit = {
    val in = new DataInputStream(new BufferedInputStream(client.getInputStream))
    val head = readHead(in)
    val h = head.getOrElse { httpError(w, "400 Bad Request"); return }
    val subscribed = h.path.matches("^/index/?$")
    val ingest = h.path.matches("^/events/?$")
    if (!subscribed && !ingest) { httpError(w, "404 Not Found"); return }
    val key = h.headers.get("sec-websocket-key")
      .getOrElse { httpError(w, "400 Bad Request"); return }
    if (subscribed && !validateQuery(h.query)) {
      httpError(w, "400 Bad Request"); return
    }
    w.offer(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: ${acceptKey(key)}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8))

    val sink =
      if (subscribed) Some(subscribeAndDump(w, h.query, textFrame))
      else None
    try {
      // fragmentation reassembly: first frame carries the opcode,
      // continuations (opcode 0) append until FIN
      var fragBuf = Array.empty[Byte]
      var fragOp = -1
      var open = true
      while (running && open && w.isOpen) {
        val (fin, opcode, payload) = readFrame(in)
        def deliver(op: Int, data: Array[Byte]): Unit =
          if (op == 0x1 && ingest)
            onEvent(new String(data, StandardCharsets.UTF_8))
        opcode match {
          case 0x0 => // continuation
            fragBuf = fragBuf ++ payload
            if (fin && fragOp != -1) { deliver(fragOp, fragBuf); fragOp = -1 }
          case op @ (0x1 | 0x2) =>
            if (fin) deliver(op, payload)
            else { fragOp = op; fragBuf = payload }
          case 0x8 => // close: echo and drop
            w.offer(Array[Byte](0x88.toByte, 0)); open = false
          case 0x9 => // ping -> pong; oversized control frames are a
            // protocol error (RFC 6455 §5.5), not a truncated length
            if (payload.length > 125)
              throw new java.io.IOException("control frame > 125 bytes")
            w.offer(Array[Byte](0x8a.toByte, payload.length.toByte) ++ payload)
          case _ => () // pong & reserved: ignored
        }
      }
    } finally sink.foreach(pubsub.unsubscribe("index", _))
  }
}
