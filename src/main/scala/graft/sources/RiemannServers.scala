package graft.sources

import java.io.{BufferedOutputStream, DataInputStream, EOFException, IOException}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket, SocketException}
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The riemann TCP/UDP *server* transports as a Spark DataSource V2
  * streaming source (reference src/riemann/transport/tcp.clj:246-296
  * `tcp-server`, udp.clj:147-181 `udp-server`).
  *
  * Shape: a driver-side listener (the same role netty plays in the
  * reference) accepts client connections, strips the int32 big-endian
  * length frame (tcp.clj:220-244 int32-frame-decoder), acks each Msg
  * with `Msg{ok: true}` (tcp.clj:148-158 gen-tcp-handler reply), and
  * buffers raw Msg payloads, each stamped with its receive time. Each
  * micro-batch drains the buffer and ships the payloads to EXECUTORS
  * in at most one input partition per core (`defaultParallelism`, so a
  * batch runs as one task wave), where [[RiemannProtobuf.decodeMsgs]]
  * does the protobuf decode — the byte-crunching is distributed, only
  * socket assembly is central (exactly Spark's own socket source
  * architecture, and the shape a multi-receiver cluster deployment
  * would shard by port).
  *
  * The frames sit in an [[OffsetBuffer]], the offset rule every
  * in-memory source here shares (the fan-out subscribers' too).
  *
  * Flow control: when `capacity` frames wait for a batch, the reader
  * threads block before acking the next frame, so TCP backpressure
  * propagates to clients instead of OOMing the driver (the reference
  * relies on netty's channel watermarks for the same thing).
  *
  * Delivery: frames are acked on receipt and kept until the batch
  * offset commits. An IN-PROCESS restart (query stop/start, a
  * [[graft.Core]] reload) loses nothing: `stop()` parks the undrained
  * buffer in [[RiemannServers.parked]] and the next instance on the
  * same address reopens it, offsets continuing the old lineage. A JVM
  * crash still loses the in-memory tail — at-most-once across process
  * death, same contract as Spark's socket source (front with Kafka for
  * replay). Usage:
  * {{{
  * spark.readStream.format("riemann-server")
  *   .option("protocol", "tcp").option("port", 5555).load()
  * }}}
  * yields (value BINARY — one Msg payload, unframed; timestamp — when
  * the server received it) rows.
  */
class RiemannServerProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "riemann-server"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RiemannServers.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RiemannServerTable(new CaseInsensitiveStringMap(properties))
}

object RiemannServers {
  val Schema: StructType = StructType(Seq(
    StructField("value", BinaryType),
    StructField("timestamp", TimestampType)))

  /** Framed `Msg{ok: true}`: field 2 (ok), wire type 0, value 1. */
  val AckFrame: Array[Byte] = RiemannProtobuf.frame(Array[Byte](0x10, 1))

  /** Per-port index-query handlers (transport.clj:175-181: a Msg
    * carrying `query` is answered with the index search's events).
    * The process assembly ([[graft.Main]]) registers its served
    * index's handler under each ingest server's BOUND port; an
    * unregistered port answers `{ok: false, error: "no index"}`,
    * exactly the reference's no-index reply. The handler returns
    * Left(error) for parse/search failures → `{ok: false, error}`. */
  private val queryHandlers = new java.util.concurrent.ConcurrentHashMap[
    Int, String => Either[String, Seq[RiemannProtobuf.PEvent]]]()

  def registerQueryHandler(port: Int,
      handler: String => Either[String, Seq[RiemannProtobuf.PEvent]]): Unit = {
    queryHandlers.put(port, handler); ()
  }

  def unregisterQueryHandler(port: Int): Unit = {
    queryHandlers.remove(port); ()
  }

  private[sources] def answerQuery(port: Int, query: String): Array[Byte] = {
    val reply = queryHandlers.get(port) match {
      case null => RiemannProtobuf.encodeReply(ok = false, Some("no index"), Nil)
      case h =>
        try h(query) match {
          case Right(events) => RiemannProtobuf.encodeReply(ok = true, None, events)
          case Left(err) => RiemannProtobuf.encodeReply(ok = false, Some(err), Nil)
        } catch {
          case scala.util.control.NonFatal(e) =>
            RiemannProtobuf.encodeReply(ok = false,
              Some(String.valueOf(e.getMessage)), Nil)
        }
    }
    RiemannProtobuf.frame(reply)
  }

  /** Buffer handoff across IN-PROCESS restarts (a [[graft.Core]] reload,
    * a stopped-and-restarted query): `stop()` parks the closed
    * [[OffsetBuffer]] here keyed by bind address, and the next stream
    * instance on the same address reopens it, so frames that were
    * ACKED before the stop are delivered by the restarted query instead
    * of dying with the old instance — riemann's "reload keeps serving"
    * (core.clj:105-161) strengthened to "reload loses nothing". Only a
    * JVM crash still drops the in-memory tail (at-most-once across
    * process death; front with Kafka for replay). Memory is bounded by
    * `capacity` frames per parked address, and an entry is consumed by
    * the next bind.
    *
    * Contract: the successor is assumed to CONTINUE the predecessor's
    * checkpoint (a query restart / Core reload — the in-process paths
    * that rebind an address). A successor on a FRESH or different
    * checkpoint re-delivers the whole adopted buffer, including any
    * prefix the old checkpoint had committed: deleting a checkpoint is
    * an explicit request to reprocess, so that boundary is
    * at-least-once (same contract as re-reading Kafka with a new
    * group). If no successor ever binds, the one parked entry stays
    * until process exit — bounded per address; a long-lived JVM should
    * keep stable ports per stream rather than cycling fresh ones. */
  private[sources] val parked = new java.util.concurrent.ConcurrentHashMap[
    String, OffsetBuffer[(Array[Byte], Long)]]()
}

private[sources] class RiemannServerTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"riemann-server(${options.get("protocol")}:${options.get("port")})"
  override def schema(): StructType = RiemannServers.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = RiemannServers.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RiemannServerStream(
            protocol = Option(options.get("protocol")).getOrElse("tcp"),
            host = Option(options.get("host")).getOrElse("127.0.0.1"),
            port = options.getInt("port", 5555),
            maxFrame = options.getInt("maxframebytes", 16 * 1024 * 1024),
            // frames, not bytes: at the few-KB Msgs riemann clients
            // send, ~32k frames bounds the buffer near a few hundred MB
            // of driver heap — small enough that backpressure actually
            // engages before memory pressure does
            capacity = options.getInt("capacity", 1 << 15),
            // TLS termination (reference transport/tcp.clj tls? path —
            // riemann's TLS is mutual by default; client auth is the
            // opt-in `tlsclientauth` here)
            tls = Option(options.get("tlskeystore")).map(ks =>
              graft.TlsFiles(ks,
                Option(options.get("tlspassword")).getOrElse(""),
                Option(options.get("tlstruststore")),
                options.getBoolean("tlsclientauth", false))))
      }
    }
}

/** Frame offset: see [[OffsetBuffer]]. */
private[sources] case class FrameOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[sources] class RiemannServerStream(protocol: String, host: String,
    port: Int, maxFrame: Int, capacity: Int,
    tls: Option[graft.TlsFiles] = None) extends MicroBatchStream {

  // (payload, receive-time-micros). An in-process predecessor on the
  // same address parked its undrained buffer: reopening it continues
  // the old offset lineage exactly (see RiemannServers.parked). Must
  // run before the listener below starts enqueueing.
  private val handoffKey = s"$protocol://$host:$port"
  private val frames = Option(RiemannServers.parked.remove(handoffKey))
    .fold(new OffsetBuffer[(Array[Byte], Long)](capacity))(_.reopen(capacity))
  @volatile private var running = true
  private val threads = new ArrayBuffer[Thread]()
  private val clients = new ArrayBuffer[Socket]()
  private var serverSocket: ServerSocket = _
  private var datagramSocket: DatagramSocket = _

  locally {
    protocol match {
      case "tcp" =>
        // a TLS config swaps in an SSLServerSocket; everything below
        // (framing, acks, handoff) is stream-identical — the handshake
        // happens lazily inside the per-connection serve() reads, so a
        // handshake failure kills only that connection's thread
        serverSocket = tls match {
          case Some(cfg) =>
            val s = cfg.context().getServerSocketFactory.createServerSocket()
              .asInstanceOf[javax.net.ssl.SSLServerSocket]
            if (cfg.clientAuth) s.setNeedClientAuth(true)
            s
          case None => new ServerSocket()
        }
        serverSocket.bind(new InetSocketAddress(host, port))
        spawn("riemann-tcp-accept") { () =>
          while (running) {
            val client = serverSocket.accept()
            clients.synchronized(clients += client)
            spawn(s"riemann-tcp-conn-${client.getPort}")(() => serve(client))
          }
        }
      case "udp" =>
        datagramSocket = new DatagramSocket(new InetSocketAddress(host, port))
        spawn("riemann-udp-recv") { () =>
          val buf = new Array[Byte](65535)
          while (running) {
            val p = new DatagramPacket(buf, buf.length)
            datagramSocket.receive(p)
            enqueue(util.Arrays.copyOfRange(buf, 0, p.getLength))
          }
        }
      case other =>
        throw new IllegalArgumentException(
          s"riemann-server protocol must be tcp or udp, got '$other'")
    }
  }

  private def spawn(name: String)(body: () => Unit): Unit = {
    val t = new Thread(() =>
      try body()
      catch {
        case _: SocketException | _: EOFException | _: IOException => // closed
      }, name)
    t.setDaemon(true)
    t.start()
    threads.synchronized(threads += t)
  }

  /** Per-connection loop: unframe, enqueue, reply — one Msg at a time,
    * blocking (backpressure) when the buffer is full. A Msg carrying a
    * `query` is answered from the registered index handler
    * (transport.clj:167-189 `handle`: stream the Msg's events, then
    * answer the query — both can ride one Msg); a query-only Msg skips
    * the ingest buffer entirely so backpressure from full ingest never
    * delays index reads. */
  private def serve(client: Socket): Unit = {
    val in = new DataInputStream(client.getInputStream)
    val out = new BufferedOutputStream(client.getOutputStream)
    try {
      while (running) {
        val len = in.readInt() // big-endian int32 frame header
        if (len < 0 || len > maxFrame)
          throw new IOException(s"bad frame length $len")
        val payload = new Array[Byte](len)
        in.readFully(payload)
        // a corrupt payload must not kill the connection: treat it as
        // a (possible) event Msg — buffered, acked, and dropped by the
        // executor-side decode, the pre-query contract for bad frames
        val (hasEvents, query) =
          try RiemannProtobuf.scanMsg(payload)
          catch { case scala.util.control.NonFatal(_) => (true, None) }
        if (hasEvents) enqueue(payload)
        out.write(query match {
          case Some(q) =>
            RiemannServers.answerQuery(client.getLocalPort, q)
          case None => RiemannServers.AckFrame
        })
        out.flush()
      }
    } finally {
      client.close()
      // long-running servers see endless reconnects — drop the dead
      // socket from the stop() cleanup list
      clients.synchronized { clients -= client; () }
    }
  }

  private def enqueue(payload: Array[Byte]): Unit =
    // a frame must not land (or be acked) after stop(): the stopped
    // buffer is never drained, so the ack would confirm a silent drop
    if (!running ||
        !frames.append(Seq((payload, System.currentTimeMillis() * 1000L))))
      throw new IOException("server stopped")

  // Spark 4.1 asks for the initial offset even when a checkpoint
  // exists; its 0 never re-bases anything
  override def initialOffset(): Offset = FrameOffset(0)
  override def latestOffset(): Offset = FrameOffset(frames.latest)
  override def deserializeOffset(json: String): Offset = {
    // checkpointed offsets reach the fresh instance through here
    frames.adopt(json.toLong)
    FrameOffset(json.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val slice = frames.slice(start.asInstanceOf[FrameOffset].n,
      end.asInstanceOf[FrameOffset].n)
    if (slice.isEmpty) Array.empty
    else {
      // shard the batch so the protobuf decode parallelizes on
      // executors: one partition per core, one task wave per batch
      val nParts = math.min(
        SparkSession.active.sparkContext.defaultParallelism, slice.length)
      slice.grouped((slice.length + nParts - 1) / nParts)
        .map(chunk => FramesPartition(chunk): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FramesReaderFactory

  override def commit(end: Offset): Unit =
    frames.commit(end.asInstanceOf[FrameOffset].n)

  override def stop(): Unit = {
    running = false
    if (serverSocket != null) serverSocket.close()
    if (datagramSocket != null) datagramSocket.close()
    // unblock per-connection readers stuck in readInt(): closing the
    // listen socket alone leaves them (and their sockets) alive until
    // the CLIENT hangs up, still acking into the dead buffer
    clients.synchronized { clients.foreach(c =>
      try c.close() catch { case _: IOException => () }) }
    // park the undrained tail for the next same-address instance (an
    // in-process query restart / Core reload): acked frames are
    // delivered by the successor, not lost. A frame enqueued during
    // this race whose ack then failed on the closed socket is parked
    // too — delivered once; whether the client also resends (making
    // it at-least-once) is the client's retry policy, same boundary
    // as any acked protocol.
    frames.close()
    if (!frames.isEmpty) RiemannServers.parked.put(handoffKey, frames)
  }
}

private[sources] case class FramesPartition(rows: Array[(Array[Byte], Long)])
    extends InputPartition

private[sources] object FramesReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[FramesPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](rows(i)._1, rows(i)._2))
      override def close(): Unit = ()
    }
  }
}
