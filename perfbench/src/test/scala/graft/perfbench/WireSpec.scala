package graft.perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RiemannProtobuf, RiemannServers}

class WireSpec extends AnyFunSuite {

  /** What the program's decoder must return for a generated event. */
  private def toPEvent(e: Wire.Ev): RiemannProtobuf.PEvent =
    RiemannProtobuf.PEvent(e.host, e.service, e.state, null, Some(e.metric),
      e.tags, Some(e.timeS), Some(e.ttl.toDouble), e.attributes.toMap)

  private def sample(seed: Long): Seq[Wire.Ev] = {
    val g = new Gen(seed, dynHosts = 1000, dynServices = 10)
    Gen.staticRange(seed, 50, 1700000000L) ++
      (0 until 200).map(i => g.next(1700000000L + i / 100)) ++
      (0 until 8).map(k => g.marker(k % Gen.MarkerKeys, k.toLong, 1700000001L))
  }

  test("framed messages decode back through RiemannProtobuf.decodeMsg") {
    val evs = sample(7)
    val b = new Wire.Buf(16) // small start: exercises growth
    evs.grouped(100).foreach { msg =>
      Wire.framedMsg(b, msg)
      val decoded = RiemannProtobuf.decodeMsg(RiemannProtobuf.unframe(b.toArray))
      assert(decoded == msg.map(toPEvent))
    }
  }

  test("the server's frame scan sees events in event messages and the query in query messages") {
    val b = new Wire.Buf()
    Wire.framedMsg(b, sample(1).take(3))
    assert(RiemannProtobuf.scanMsg(RiemannProtobuf.unframe(b.toArray)) == ((true, None)))
    val q = """host = "s-0001" and service = "st-1""""
    assert(RiemannProtobuf.scanMsg(Wire.queryMsg(q)) == ((false, Some(q))))
  }

  test("acks and query replies parse through decodeReply over a socket") {
    val reply = RiemannProtobuf.encodeReply(ok = true, None, sample(3).take(5).map(toPEvent))
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      in.readFully(new Array[Byte](in.readInt()))
      out.write(RiemannServers.AckFrame)
      in.readFully(new Array[Byte](in.readInt()))
      out.write(RiemannProtobuf.frame(reply))
      out.flush()
      s.close()
    })
    t.start()
    val c = Wire.connect("127.0.0.1", server.getLocalPort, System.nanoTime() + 5000000000L)
    try {
      val b = new Wire.Buf()
      Wire.framedMsg(b, sample(3).take(2))
      c.sendFramed(b)
      assert(RiemannProtobuf.decodeReply(c.readReply()) == ((Some(true), None, Nil)))
      val (ok, err, evs) = c.query("true")
      assert(ok.contains(true) && err.isEmpty)
      assert(evs == sample(3).take(5).map(toPEvent))
    } finally { c.close(); t.join(5000); server.close() }
  }

  test("the same seed yields the same events and queries, apart from send-time stamps") {
    def run(seed: Long, t0: Long) = {
      val g = new Gen(seed, dynHosts = 1000, dynServices = 10)
      val dyn = (0 until 500).map(i => g.next(t0 + i)).map(_.copy(timeS = 0))
      val static = Gen.staticRange(seed, 100, t0).map(_.copy(timeS = 0))
      val qs = new Gen.Queries(seed, static)
      (dyn, static, Seq.fill(200)(qs.next().text))
    }
    assert(run(42, 1000) == run(42, 5000))
    assert(run(42, 1000) != run(43, 1000))
  }

  test("the query mix is 50/20/20/10 point/scan/tagged/like") {
    val qs = new Gen.Queries(1, Gen.staticRange(1, 5000, 0))
    val counts = Seq.fill(10000)(qs.next().cls).groupBy(identity).map { case (c, v) => c -> v.size }
    def share(c: Gen.QClass) = counts(c) / 10000.0
    assert(math.abs(share(Gen.Point) - 0.5) < 0.03)
    assert(math.abs(share(Gen.Scan) - 0.2) < 0.03)
    assert(math.abs(share(Gen.Tagged) - 0.2) < 0.03)
    assert(math.abs(share(Gen.Like) - 0.1) < 0.03)
  }
}
