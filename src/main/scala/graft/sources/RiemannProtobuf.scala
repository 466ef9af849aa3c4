package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, unix_seconds}

/** The riemann TCP/UDP wire format (reference
  * src/riemann/transport/tcp.clj:220-244: int32-framed protobuf `Msg`;
  * udp.clj:147-181: one Msg per datagram), decoded with a hand-rolled
  * protobuf wire reader — no generated classes, no external deps, pure
  * executor-side byte work over a binary column. Message/field numbers
  * follow the public riemann protocol-buffer schema (the
  * riemann-java-client `proto.proto`):
  *
  *   Msg:   ok=2 bool, error=3 string, states=4, query=5, events=6
  *   Event: time=1 int64, state=2, service=3, host=4, description=5,
  *          tags=7 repeated string, ttl=8 float, attributes=9,
  *          time_micros=10 int64, metric_sint64=13, metric_d=14 double,
  *          metric_f=15 float
  *   Attribute: key=1, value=2
  *
  * Decode semantics mirror the client codec: metric precedence
  * sint64 → double → float; event time from time_micros when present,
  * else time (seconds); a missing time stays `None` unless the decode
  * is given the payload's receive time ([[decodeMsgs]]' `receivedCol`,
  * what the TCP/UDP servers pass), else [[Sources.defaultTimeS]]
  * assigns it downstream (common.clj:86-89 post-load-event).
  */
object RiemannProtobuf {

  case class PEvent(
      host: String, service: String, state: String, description: String,
      metric: Option[Double], tags: Seq[String], time_s: Option[Long],
      ttl: Option[Double], attributes: Map[String, String])

  // ------------------------------------------------------------- wire read
  private class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var out = 0L
      while (true) {
        val b = buf(pos); pos += 1
        out |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
      }
      out
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def fixed64(): Long = {
      val v = ByteBuffer.wrap(buf, pos, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
      pos += 8; v
    }
    def fixed32(): Int = {
      val v = ByteBuffer.wrap(buf, pos, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      pos += 4; v
    }
    def bytes(): (Int, Int) = {
      val len64 = varint()
      // guard the 64-bit value against the REMAINING bytes, not its
      // toInt truncation: 2^32+5 truncates to a plausible-looking 5
      // that silently mis-aligns the parse, a negative truncation
      // would move pos BACKWARDS (the decode loop could revisit the
      // same bytes forever — a wedged task), and a length in
      // (remaining, end] would overrun this scope's boundary and read
      // a sibling field's bytes as content. Throw into decodeMsgs'
      // payload-isolation net instead.
      if (len64 < 0 || len64 > (end - pos).toLong)
        throw new IllegalArgumentException(s"bad field length $len64")
      val len = len64.toInt
      val start = pos; pos += len; (start, len)
    }
    def string(): String = {
      val (s, l) = bytes(); new String(buf, s, l, StandardCharsets.UTF_8)
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 =>
        val l = varint()
        if (l < 0 || l > (end - pos).toLong)
          throw new IllegalArgumentException(s"bad field length $l")
        pos += l.toInt
      case 5 => pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }

  private def decodeAttribute(buf: Array[Byte], start: Int, len: Int): (String, String) = {
    val r = new Reader(buf, start, start + len)
    var k = ""; var v = ""
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >> 3, tag & 7) match {
        case (1, 2) => k = r.string()
        case (2, 2) => v = r.string()
        case (_, wt) => r.skip(wt)
      }
    }
    (k, v)
  }

  /** Decode one wire Event (or State — a field-compatible subset). */
  def decodeEvent(buf: Array[Byte], start: Int, len: Int): PEvent = {
    val r = new Reader(buf, start, start + len)
    var host: String = null; var service: String = null
    var state: String = null; var descr: String = null
    var timeS: Option[Long] = None; var timeMicros: Option[Long] = None
    var ttl: Option[Double] = None
    var mSint: Option[Double] = None; var mD: Option[Double] = None
    var mF: Option[Double] = None
    val tags = Seq.newBuilder[String]
    val attrs = Map.newBuilder[String, String]
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >> 3, tag & 7) match {
        case (1, 0) => timeS = Some(r.varint())
        case (2, 2) => state = r.string()
        case (3, 2) => service = r.string()
        case (4, 2) => host = r.string()
        case (5, 2) => descr = r.string()
        case (7, 2) => tags += r.string()
        case (8, 5) => ttl = Some(java.lang.Float.intBitsToFloat(r.fixed32()).toDouble)
        case (9, 2) => val (s, l) = r.bytes(); attrs += decodeAttribute(buf, s, l)
        case (10, 0) => timeMicros = Some(r.varint())
        case (13, 0) => mSint = Some(r.zigzag().toDouble)
        case (14, 1) => mD = Some(java.lang.Double.longBitsToDouble(r.fixed64()))
        case (15, 5) => mF = Some(java.lang.Float.intBitsToFloat(r.fixed32()).toDouble)
        case (_, wt) => r.skip(wt)
      }
    }
    PEvent(host, service, state, descr,
      mSint.orElse(mD).orElse(mF),
      tags.result(),
      timeMicros.map(_ / 1000000L).orElse(timeS),
      ttl, attrs.result())
  }

  /** Decode a `Msg`'s events (field 6) and states (field 4 — legacy
    * alias for events, transport.clj:167-189 handles both). */
  def decodeMsg(buf: Array[Byte]): Seq[PEvent] = {
    val r = new Reader(buf, 0, buf.length)
    val out = Seq.newBuilder[PEvent]
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >> 3, tag & 7) match {
        case (4, 2) | (6, 2) =>
          val (s, l) = r.bytes(); out += decodeEvent(buf, s, l)
        case (_, wt) => r.skip(wt)
      }
    }
    out.result()
  }

  /** One-pass Msg scan for the server's reply decision
    * (transport.clj:167-189 `handle`): does the Msg carry events (or
    * legacy states) to stream, and does it carry a query (field 5,
    * `Query{string=1}`) to answer from the index? */
  def scanMsg(buf: Array[Byte]): (Boolean, Option[String]) = {
    val r = new Reader(buf, 0, buf.length)
    var hasEvents = false
    var query: Option[String] = None
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >> 3, tag & 7) match {
        case (4, 2) | (6, 2) => hasEvents = true; r.skip(2)
        case (5, 2) =>
          val (s, l) = r.bytes()
          val q = new Reader(buf, s, s + l)
          while (q.hasNext) {
            val qt = q.varint().toInt
            (qt >> 3, qt & 7) match {
              case (1, 2) =>
                val (qs, ql) = q.bytes()
                query = Some(new String(buf, qs, ql, StandardCharsets.UTF_8))
              case (_, wt) => q.skip(wt)
            }
          }
        case (_, wt) => r.skip(wt)
      }
    }
    (hasEvents, query)
  }

  /** Decode a reply Msg's control fields: (ok, error, events) —
    * what a client sees back from `handle`'s query path. */
  def decodeReply(buf: Array[Byte])
      : (Option[Boolean], Option[String], Seq[PEvent]) = {
    val r = new Reader(buf, 0, buf.length)
    var ok: Option[Boolean] = None
    var error: Option[String] = None
    val events = Seq.newBuilder[PEvent]
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >> 3, tag & 7) match {
        case (2, 0) => ok = Some(r.varint() != 0L)
        case (3, 2) =>
          val (s, l) = r.bytes()
          error = Some(new String(buf, s, l, StandardCharsets.UTF_8))
        case (4, 2) | (6, 2) =>
          val (s, l) = r.bytes(); events += decodeEvent(buf, s, l)
        case (_, wt) => r.skip(wt)
      }
    }
    (ok, error, events.result())
  }

  /** Strip the TCP transport's int32 big-endian length frame
    * (tcp.clj:220-244 int32-frame-decoder). */
  def unframe(buf: Array[Byte]): Array[Byte] = {
    require(buf.length >= 4, s"framed payload too short: ${buf.length} bytes")
    val len = ByteBuffer.wrap(buf, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt
    // copyOfRange would silently zero-pad a truncated frame, decoding
    // garbage instead of letting decodeMsgs drop the corrupt payload
    require(len >= 0 && buf.length - 4 >= len,
      s"frame declares $len bytes but only ${buf.length - 4} present")
    java.util.Arrays.copyOfRange(buf, 4, 4 + len)
  }

  /** DataFrame adapter: a binary column of (optionally framed) Msg
    * payloads — kafka values, file-stream records, a custom socket
    * source — to the event relation. Executor-side flatMap: one task
    * decodes its partition's payloads, no driver involvement. When
    * `receivedCol` names a timestamp column stamped at receipt, an
    * event without a time takes that payload's receive second, as
    * riemann sets a missing time when the event arrives
    * (common.clj:86-89). */
  def decodeMsgs(df: DataFrame, binaryCol: String = "value",
      framed: Boolean = false,
      receivedCol: Option[String] = None): Dataset[PEvent] = {
    val spark = df.sparkSession
    import spark.implicits._
    val received = receivedCol.fold(lit(null).cast("long"))(c =>
      unix_seconds(col(c)))
    df.select(col(binaryCol), received).as[(Array[Byte], Option[Long])]
      .flatMap { case (b, at) =>
        // per-payload isolation: a truncated/corrupt message is dropped
        // (mirrors the line decoders' malformed-row drop) rather than
        // failing the task on every retry
        try decodeMsg(if (framed) unframe(b) else b).map(e =>
          if (e.time_s.isEmpty) e.copy(time_s = at) else e)
        catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException =>
          Seq.empty[PEvent] }
      }
  }

  // ------------------------------------------- wire write (test harness)
  private class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def key(field: Int, wt: Int): Unit = varint((field << 3) | wt)
    def str(field: Int, s: String): Unit = {
      key(field, 2); val b = s.getBytes(StandardCharsets.UTF_8)
      varint(b.length); out.write(b)
    }
    def sub(field: Int, b: Array[Byte]): Unit = {
      key(field, 2); varint(b.length); out.write(b, 0, b.length)
    }
    def fixed32(field: Int, v: Int): Unit = {
      key(field, 5)
      out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array())
    }
    def fixed64(field: Int, v: Long): Unit = {
      key(field, 1)
      out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array())
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  /** Encode an event (the test-side inverse; also what a forwarding
    * sink — streams.clj:1255-1261 `forward` — would emit). */
  def encodeEvent(e: PEvent): Array[Byte] = {
    val w = new Writer
    e.time_s.foreach { t => w.key(1, 0); w.varint(t) }
    Option(e.state).foreach(w.str(2, _))
    Option(e.service).foreach(w.str(3, _))
    Option(e.host).foreach(w.str(4, _))
    Option(e.description).foreach(w.str(5, _))
    Option(e.tags).getOrElse(Seq()).foreach(w.str(7, _))
    e.ttl.foreach(t => w.fixed32(8, java.lang.Float.floatToIntBits(t.toFloat)))
    Option(e.attributes).getOrElse(Map()).foreach { case (k, v) =>
      // proto3 strings are non-nullable: skip null keys/values rather
      // than NPE mid-partition (the wire has no way to carry them)
      if (k != null && v != null) {
        val aw = new Writer; aw.str(1, k); aw.str(2, v)
        w.sub(9, aw.toBytes)
      }
    }
    e.metric.foreach(m =>
      w.fixed64(14, java.lang.Double.doubleToLongBits(m)))
    w.toBytes
  }

  def encodeMsg(events: Seq[PEvent]): Array[Byte] = {
    val w = new Writer
    events.foreach(e => w.sub(6, encodeEvent(e)))
    w.toBytes
  }

  /** A query Msg (the client side of the index-query wire:
    * tcp.clj:175, `Msg{query: Query{string}}`). */
  def encodeQueryMsg(query: String): Array[Byte] = {
    val q = new Writer
    q.str(1, query)
    val w = new Writer
    w.sub(5, q.toBytes)
    w.toBytes
  }

  /** A reply Msg: ok flag, optional error, result events —
    * `handle`'s response shape (transport.clj:175-189). */
  def encodeReply(ok: Boolean, error: Option[String],
      events: Seq[PEvent]): Array[Byte] = {
    val w = new Writer
    w.key(2, 0); w.varint(if (ok) 1L else 0L)
    error.foreach(w.str(3, _))
    events.foreach(e => w.sub(6, encodeEvent(e)))
    w.toBytes
  }

  def frame(msg: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(4 + msg.length).order(ByteOrder.BIG_ENDIAN)
    b.putInt(msg.length).put(msg).array()
  }
}
