package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import graft.sources.RiemannProtobuf

/** The benchmark's side of the riemann wire: its own protobuf encoder
  * (checked against the program's decoder in WireSpec, so the two
  * cannot silently agree on a shared bug) and a blocking client for
  * framed `Msg`s.
  *
  * Field numbers follow riemann's proto.proto: Msg{ok=2, error=3,
  * query=5, events=6}, Event{time=1, state=2, service=3, host=4,
  * description=5, tags=7, ttl=8, attributes=9, metric_d=14},
  * Attribute{key=1, value=2}, Query{string=1}. */
object Wire {

  /** A generated event, in the fields the wire carries. */
  final case class Ev(host: String, service: String, state: String,
      metric: Double, timeS: Long, ttl: Float, tags: Seq[String],
      attributes: Seq[(String, String)])

  /** Growable byte buffer with protobuf primitives; reused per message
    * so the generator's encode cost stays far below the server's. */
  final class Buf(initial: Int = 1 << 16) {
    var bytes = new Array[Byte](initial)
    var len = 0
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, len + n))
    def varint(v: Long): Unit = {
      ensure(10)
      var x = v
      while ((x & ~0x7fL) != 0) { bytes(len) = ((x & 0x7f) | 0x80).toByte; len += 1; x >>>= 7 }
      bytes(len) = x.toByte; len += 1
    }
    def key(field: Int, wt: Int): Unit = varint(((field << 3) | wt).toLong)
    def str(field: Int, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      key(field, 2); varint(b.length.toLong); ensure(b.length)
      System.arraycopy(b, 0, bytes, len, b.length); len += b.length
    }
    def fixed32(field: Int, v: Int): Unit = {
      key(field, 5); ensure(4)
      var i = 0
      while (i < 4) { bytes(len) = (v >>> (8 * i)).toByte; len += 1; i += 1 }
    }
    def fixed64(field: Int, v: Long): Unit = {
      key(field, 1); ensure(8)
      var i = 0
      while (i < 8) { bytes(len) = (v >>> (8 * i)).toByte; len += 1; i += 1 }
    }
    /** Length-delimited sub-message: reserve a 2-byte length, write the
      * body, then back-patch (bodies here are < 16 KiB). */
    def sub(field: Int)(body: => Unit): Unit = {
      key(field, 2); ensure(2)
      val at = len; len += 2
      body
      val n = len - at - 2
      require(n < (1 << 14), s"sub-message too long: $n")
      bytes(at) = ((n & 0x7f) | 0x80).toByte
      bytes(at + 1) = (n >>> 7).toByte
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(bytes, len)
  }

  def writeEvent(b: Buf, e: Ev): Unit = b.sub(6) {
    b.key(1, 0); b.varint(e.timeS)
    b.str(2, e.state)
    b.str(3, e.service)
    b.str(4, e.host)
    e.tags.foreach(b.str(7, _))
    b.fixed32(8, java.lang.Float.floatToIntBits(e.ttl))
    e.attributes.foreach { case (k, v) => b.sub(9) { b.str(1, k); b.str(2, v) } }
    b.fixed64(14, java.lang.Double.doubleToLongBits(e.metric))
  }

  /** A framed events `Msg`: int32 big-endian length, then the body. */
  def framedMsg(b: Buf, events: Seq[Ev]): Unit = {
    b.reset(); b.len = 4
    events.foreach(writeEvent(b, _))
    val n = b.len - 4
    b.bytes(0) = (n >>> 24).toByte; b.bytes(1) = (n >>> 16).toByte
    b.bytes(2) = (n >>> 8).toByte; b.bytes(3) = n.toByte
  }

  def queryMsg(q: String): Array[Byte] = {
    val b = new Buf(64 + q.length * 3)
    b.sub(5) { b.str(1, q) }
    b.toArray
  }

  /** One blocking connection: write a frame, read the reply frame.
    * The server answers every frame in order (ack or query reply). */
  final class Conn(host: String, port: Int) extends AutoCloseable {
    private val sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress(host, port), 5000)
    sock.setSoTimeout(120000)
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))

    def sendFramed(b: Buf): Unit = { out.write(b.bytes, 0, b.len); out.flush() }

    def readReply(): Array[Byte] = {
      val n = in.readInt()
      val body = new Array[Byte](n)
      in.readFully(body)
      body
    }

    /** (ok, error, events) of one query round trip. */
    def query(q: String): (Option[Boolean], Option[String], Seq[RiemannProtobuf.PEvent]) = {
      val body = queryMsg(q)
      out.writeInt(body.length); out.write(body); out.flush()
      RiemannProtobuf.decodeReply(readReply())
    }

    override def close(): Unit = try sock.close() catch { case _: Exception => () }
  }

  /** Connect, retrying until the server binds or the deadline passes. */
  def connect(host: String, port: Int, deadlineNanos: Long): Conn = {
    var last: Throwable = null
    while (System.nanoTime() < deadlineNanos) {
      try return new Conn(host, port)
      catch { case e: java.io.IOException => last = e; Thread.sleep(20) }
    }
    throw new java.io.IOException(s"no server on $host:$port", last)
  }
}
