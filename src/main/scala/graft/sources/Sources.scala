package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Event

/** Streaming source assembly: riemann's servers map to streaming reads
  * plus pure decoders — [[RiemannServers]] (the custom framed-protobuf
  * TCP/UDP MicroBatchStream) for the binary transports, the
  * pure-column decoders in [[LineProtocols]] for the text ones. */
object Sources {

  /** `tcp-server` (transport/tcp.clj:246-296): the riemann protobuf
    * wire protocol end to end — int32-framed `Msg` ingest with
    * per-Msg acks, decoded on executors to the event relation. */
  def riemannTcpServer(spark: SparkSession, host: String, port: Int): DataFrame =
    decodedServer(spark, "tcp", host, port)

  /** TLS-terminated `tcp-server` (transport/tcp.clj tls? path —
    * riemann's TLS is mutual; client-cert verification here is the
    * `clientAuth` flag). `keystore` is a PKCS12 file with the server
    * key + cert; `truststore` (defaults to the keystore) anchors
    * client-cert checks. */
  def riemannTlsServer(spark: SparkSession, host: String, port: Int,
      keystore: String, password: String, truststore: Option[String] = None,
      clientAuth: Boolean = false): DataFrame =
    decodedServer(spark, "tcp", host, port,
      Map("tlskeystore" -> keystore, "tlspassword" -> password,
        "tlsclientauth" -> clientAuth.toString) ++
        truststore.map("tlstruststore" -> _))

  /** `udp-server` (transport/udp.clj:147-181): one un-framed `Msg`
    * per datagram, no acks. */
  def riemannUdpServer(spark: SparkSession, host: String, port: Int): DataFrame =
    decodedServer(spark, "udp", host, port)

  private def decodedServer(spark: SparkSession, protocol: String,
      host: String, port: Int,
      extra: Map[String, String] = Map.empty): DataFrame = {
    // a restart hands acked, undrained frames to the next query on the
    // same checkpoint, so a stop must never leave that checkpoint
    // unable to start (see LocalCheckpointFileManager)
    graft.streaming.LocalCheckpointFileManager.useByDefault(spark)
    val raw = extra.foldLeft(
        spark.readStream.format("riemann-server")
          .option("protocol", protocol).option("host", host)
          .option("port", port)) { case (r, (k, v)) => r.option(k, v) }
      .load()
    // an event arriving without a time gets its frame's receive time
    // (common.clj:86-89), stamped by the server on receipt — a column
    // of the batch, so the generated code is the same for every batch
    RiemannProtobuf.decodeMsgs(raw, receivedCol = Some("timestamp")).toDF()
  }

  /** `graphite-server` (transport/graphite.clj:37-160): socket text
    * lines → events. */
  def graphiteServer(spark: SparkSession, host: String, port: Int): DataFrame =
    LineProtocols.decodeGraphite(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load()
        .withColumnRenamed("value", "line"))

  /** `opentsdb-server` (transport/opentsdb.clj:24-145): socket `put`
    * lines → events. */
  def opentsdbServer(spark: SparkSession, host: String, port: Int): DataFrame =
    LineProtocols.decodeOpenTsdb(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load()
        .withColumnRenamed("value", "line"))

  /** `kafka-consumer` (kafka.clj:50-119): JSON events from Kafka —
    * native in Spark; value is decoded against the canonical Event
    * schema with default-time assignment. */
  def kafkaEvents(spark: SparkSession, bootstrap: String,
      topics: String): DataFrame =
    withDefaultTime(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics).load()
        .select(from_json(col("value").cast("string"),
          Event.schema).as("e"))
        .select(col("e.*")))

  /** `rabbitmq-transport` consumer (transport/rabbitmq.clj:27-44):
    * AMQP delivers un-framed protobuf `Msg` payloads (AMQP does its own
    * framing); decode is the same executor-side path as the TCP/UDP
    * servers. The AMQP client bridge lands payloads as a binary
    * `value` column (e.g. via a custom receiver or a queue→file/kafka
    * bridge); replies use [[rabbitReplyOk]] when `reply-to` is set. */
  def rabbitConsume(payloads: DataFrame, binaryCol: String = "value"): DataFrame =
    RiemannProtobuf.decodeMsgs(payloads, binaryCol).toDF()
      .withColumn("time_s", defaultTimeS(col("time_s")))

  /** Un-framed `Msg{ok: true}` — the rabbitmq reply payload. */
  val rabbitReplyOk: Array[Byte] = Array[Byte](0x10, 1)

  /** Decode-time default assignment (common.clj:86-89,132-137) for
    * the library-only sources (kafka, rabbitmq), which carry no receive
    * time: events without a time get the processing clock. The TCP/UDP
    * servers stamp each frame on receipt and use that instead. */
  def withDefaultTime(events: DataFrame): DataFrame =
    events.withColumn("time",
      coalesce(col("time"), current_timestamp()))

  /** The same default for the epoch-seconds representation. */
  def defaultTimeS(timeS: Column): Column =
    coalesce(timeS, unix_timestamp(current_timestamp()))
}
