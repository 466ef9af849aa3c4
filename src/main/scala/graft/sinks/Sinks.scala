package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.LineProtocols

/** Sink layer: riemann's ~40 integrations share one shape — `(sink
  * opts) → stream fn` called per event/batch (reference
  * src/riemann/config.clj:7-63 imports; graphite sink
  * src/riemann/graphite.clj:116-174; `append`/`register` accumulator
  * streams.clj:1243-1253). The Spark reading: a sink is a foreachBatch
  * consumer, and an integration is one [[RenderSink]] — a render step
  * (guard filters + codegen'd payload columns, run distributed) and a
  * per-partition delivery that hands the rendered rows to an injected
  * transport (HTTP/TCP client in production, a collector in tests).
  * Each integration is a factory over it: [[graphite]], [[webhook]],
  * [[Alerting.slack]], [[Metrics.influxDb]], [[Forwarders.zabbix]],
  * [[Notifiers.hipchat]], … The few sinks with another shape are
  * classes: [[MemorySink]], [[Guarded]], [[ForwardSink]] (batch-id
  * replay guard) and [[Email.EmailSink]] (one driver-side aggregate per
  * batch). */
object Sinks {

  /** A batch sink: receives each micro-batch (or batch write). */
  trait EventSink extends Serializable {
    def write(batch: DataFrame, batchId: Long): Unit

    /** The relation this sink's query writes, built once from the
      * stream's output when the query is built: a projection here runs
      * in the stream's own plan instead of on every batch. */
    def input(stream: DataFrame): DataFrame = stream
  }

  /** `to_json` matching cheshire's null rendering: the reference's JSON
    * sinks serialize nil fields as explicit `null` values, while Spark's
    * default (`ignoreNullFields=true`) drops the key entirely. The
    * payload-exact sink encoders use this instead of bare `to_json`. */
  def cheshireJson(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.to_json(c,
      Map("ignoreNullFields" -> "false"))

  /** Attach a sink to a streaming Dataset via foreachBatch — the
    * canonical integration point (SURVEY §2.2). */
  def attach[T](ds: Dataset[T], sink: EventSink): DataStreamWriter[Row] =
    sink.input(ds.toDF()).writeStream.foreachBatch {
      (batch: DataFrame, id: Long) => sink.write(batch, id)
    }

  /** `append` / `register` (streams.clj:1243-1253): accumulate events
    * into a driver-side buffer — the reference's test harness, and ours.
    * Driver-local by design (collect per batch); for tests and
    * low-volume alert streams only. */
  class MemorySink extends EventSink {
    val rows = new ConcurrentLinkedQueue[Row]()
    override def write(batch: DataFrame, batchId: Long): Unit =
      batch.collect().foreach(rows.add)
    def size: Int = rows.size()
  }

  /** The render-and-deliver sink every payload integration is built
    * from: `render` turns the batch into its payload columns (guards
    * and formatting, distributed), `deliver` runs once per partition on
    * the executor and hands the rendered rows to the transport. */
  final case class RenderSink(render: DataFrame => DataFrame,
      deliver: Iterator[Row] => Unit) extends EventSink {
    override def write(batch: DataFrame, batchId: Long): Unit =
      render(batch).foreachPartition(deliver)
  }

  /** Delivery: one transport call per rendered row. */
  def eachRow(send: Row => Unit): Iterator[Row] => Unit =
    rows => rows.foreach(send)

  /** Delivery: one `prefix + rows.mkString(sep) + suffix` body per
    * partition over the first rendered column (the batched POST / frame
    * form); a partition that renders nothing — empty, or every row
    * guarded away — sends nothing. */
  def joined(prefix: String, sep: String, suffix: String)(
      send: String => Unit): Iterator[Row] => Unit = rows => {
    val body = rows.map(_.getString(0)).mkString(sep)
    if (body.nonEmpty) send(prefix + body + suffix)
  }

  /** Delivery: each partition's first-column strings streamed to a
    * line transport (one pooled connection or POST per partition). */
  def lines(transport: Iterator[String] => Unit): Iterator[Row] => Unit =
    rows => transport(rows.map(_.getString(0)))

  /** Every column of the event as one JSON object. */
  private def eventJson(df: DataFrame): Column =
    to_json(struct(df.columns.toIndexedSeq.map(col): _*))

  /** Graphite plaintext sink (graphite.clj:116-174): `service metric
    * time` lines, each partition's lines handed to `transport`. */
  def graphite(transport: Iterator[String] => Unit): EventSink =
    RenderSink(LineProtocols.encodeGraphite(_).select("line"),
      lines(transport))

  /** The user-facing default, matching `(graphite {:host …})`
    * (graphite.clj:128-170): pooled TCP to host:2003 with the
    * reference's pool defaults (size 4, claim-timeout 0.1 s,
    * reconnect-interval 5 s, block-start). The transport-injected
    * overload remains for tests and exotic carriers. */
  def graphite(host: String, port: Int = 2003, poolSize: Int = 4,
      claimTimeoutMs: Long = 100): EventSink =
    graphite(Pool.tcpLineTransport(host, port, size = poolSize,
      claimTimeoutMs = claimTimeoutMs))

  /** `exception-stream` / dead-letter (streams.clj:81-121): the
    * reference isolates child failures per event and routes the
    * exception AS an event to a handler stream. The Spark analog
    * isolates per BATCH (task retry handles row-level transients):
    * a failing sink's batch is handed to the dead-letter sink along
    * with a riemann-style error event descriptor. */
  class Guarded(primary: EventSink, deadLetter: EventSink) extends EventSink {
    override def write(batch: DataFrame, batchId: Long): Unit =
      try primary.write(batch, batchId)
      catch {
        case err: Exception =>
          deadLetter.write(batch, batchId)
          val spark = batch.sparkSession
          // the "riemann exception" event (streams.clj:93-106)
          deadLetter.write(
            spark.range(1).select(
              lit("exception").as("service"),
              lit(err.getClass.getName + ": " + String.valueOf(err.getMessage))
                .as("description"),
              lit(batchId).as("batch_id")),
            batchId)
      }
  }

  /** The columns of a [[graft.streaming.WireEvent]] frame, in order. */
  private val EventColumns = Seq("host", "service", "state", "metric",
    "time", "ttl", "tags", "attributes")

  /** Pubsub registry (reference src/riemann/pubsub.clj:35-109): named
    * channels fan out each published batch to subscribers; a
    * query-filtered subscription reproduces the websocket/SSE
    * subscribe-to-index path (transport/websockets.clj:66-81). */
  class Pubsub extends Serializable {
    private val subs =
      new scala.collection.concurrent.TrieMap[String, Vector[(Option[String], EventSink)]]()
    def subscribe(channel: String, sink: EventSink): Unit =
      subs.updateWith(channel)(v => Some(v.getOrElse(Vector.empty) :+ ((None, sink))))
    def subscribeQuery(channel: String, query: String, sink: EventSink): Unit =
      subs.updateWith(channel)(v => Some(v.getOrElse(Vector.empty) :+ ((Some(query), sink))))
    /** `unsubscribe!` (pubsub.clj:78-87): remove a sink (by identity)
      * from a channel — transports detach on client disconnect. */
    def unsubscribe(channel: String, sink: EventSink): Unit =
      subs.updateWith(channel)(v => v.map(_.filterNot(_._2 eq sink)))
    /** Whether anything listens on `channel`: a publisher can skip
      * building a batch nobody reads. */
    def subscribed(channel: String): Boolean =
      subs.get(channel).exists(_.nonEmpty)
    def publish(channel: String, batch: DataFrame, batchId: Long = 0L): Unit = {
      val subscribers = subs.getOrElse(channel, Vector.empty)
      if (subscribers.isEmpty) return
      // Fan-out fast path: when the batch is exactly the event shape
      // (the eight [[graft.streaming.WireEvent]] columns — what Main's
      // index channel publishes) and several subscribers filter it,
      // collect ONCE and evaluate each subscriber's query as the
      // serving-path compiled closure — one Spark job per batch instead
      // of one filter+collect job PER SUBSCRIBER per batch (1 000 ws
      // clients = 1 000 jobs each micro-batch on the legacy path). Each
      // subscriber still receives a DataFrame: a local relation
      // Catalyst folds without submitting jobs. Closure == Catalyst on
      // this schema is EventPredicateSpec's pinned parity (null, tag
      // and attribute semantics included); any OTHER shape — renamed,
      // reordered, missing or extra columns — falls back to the
      // per-subscriber Catalyst filter.
      val fanout: Option[Seq[graft.streaming.WireEvent]] =
        if (subscribers.count(_._1.isDefined) >= 2 &&
            batch.columns.toSeq == EventColumns)
          try {
            Some(batch.as[graft.streaming.WireEvent](
              org.apache.spark.sql.Encoders
                .product[graft.streaming.WireEvent])
              .collect().toSeq)
          } catch { case scala.util.control.NonFatal(_) => None }
        else None
      subscribers.foreach { case (q, sink) =>
        // per-sink isolation: one failing subscriber (bad query, dead
        // transport) must not abort delivery to the others or crash
        // the publishing (streaming) thread — mirrors the reference's
        // per-handler rescue
        try {
          val routed = (fanout, q) match {
            case (Some(events), _) =>
              val hits = q match {
                case Some(query) =>
                  events.filter(graft.query.EventPredicate(query))
                case None => events
              }
              batch.sparkSession.createDataFrame(
                java.util.Arrays.asList(hits.map(e =>
                  org.apache.spark.sql.Row(e.host, e.service, e.state,
                    e.metric.map(Double.box).orNull, e.time,
                    e.ttl.map(Double.box).orNull, e.tags,
                    e.attributes)): _*),
                batch.schema)
            case (None, Some(query)) => batch.filter(
              graft.query.QueryLanguage.predicate(query, batch.schema))
            case (None, None) => batch
          }
          sink.write(routed, batchId)
        } catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"pubsub '$channel': subscriber failed, skipping", e)
        }
      }
    }
  }

  /** Elasticsearch bulk sink (reference src/riemann/elasticsearch.clj:
    * 37-190): each partition is one NDJSON `_bulk` body — an
    * `{"index":…}` action line + the event document per event. */
  def elasticsearchBulk(index: String, transport: String => Unit): EventSink =
    RenderSink(df => df.select(concat(
        lit(s"""{"index":{"_index":"$index"}}""" + "\n"), eventJson(df))),
      joined("", "\n", "\n")(transport))

  /** Webhook/alerting sink (the slack/pagerduty family, e.g.
    * src/riemann/slack.clj:71, pagerduty.clj:91): each event posted as
    * one JSON payload through the injected transport. */
  def webhook(transport: String => Unit): EventSink =
    RenderSink(df => df.select(eventJson(df)),
      eachRow(r => transport(r.getString(0))))

  /** [[ForwardSink]] with the production transport out of the box:
    * pooled synchronous framed TCP ([[Pool.tcpFrameTransport]] — one
    * ack read per Msg), optionally over mutual TLS to a
    * `tlskeystore`-configured riemann server. */
  def forwardSink(host: String, port: Int,
      tls: Option[graft.TlsFiles] = None, batchSize: Int = 100): ForwardSink =
    new ForwardSink(Pool.tcpFrameTransport(host, port, tls), batchSize)

  /** `forward` (streams.clj:1255-1261): riemann→riemann forwarding —
    * events re-encoded to framed protobuf Msg payloads per partition,
    * handed to the injected TCP transport.
    *
    * Delivery contract (pinned by ForwardersSpec): the pooled framed
    * transport acks every Msg, which confirms TRANSPORT delivery, not
    * end-to-end idempotence. foreachBatch is at-least-once, so this
    * sink carries the same in-process batchId guard as
    * [[graft.streaming.ReinjectLoop]]: a same-process re-invocation of
    * an already-forwarded batchId is dropped. What the guard cannot
    * cover: a task RETRY re-sends its partition inside a batch (the
    * send happens on executors), and a JVM restart resets the guard so
    * the recovered query's replayed batch forwards again — both are
    * at-least-once, exactly like the reference's forward (reconnect +
    * resend). Downstream, riemann's index is latest-per-key and
    * absorbs replays idempotently; only downstream counters/rates
    * would double-count, and deduplicating there (e.g. streaming exact
    * dedup on an event id) is the receiving topology's call. */
  class ForwardSink(transport: Iterator[Array[Byte]] => Unit,
      batchSize: Int = 100) extends EventSink {
    private var lastRun: String = null
    private var lastBatch = Long.MinValue
    override def write(batch: DataFrame, batchId: Long): Unit = synchronized {
      // batchIds are monotonic only within one streaming RUN: a
      // redeploy with a fresh checkpoint restarts them at 0, and a
      // guard carried across runs would silently drop every batch
      // until the counter caught up. foreachBatch executes on the
      // query thread, where StreamExecution sets the runId as a local
      // property — key the guard on it and reset on change (null in
      // batch/test use, which still gets the in-run replay guard).
      val runId = batch.sparkSession.sparkContext
        .getLocalProperty("sql.streaming.runId")
      if (runId != lastRun) { lastRun = runId; lastBatch = Long.MinValue }
      if (batchId <= lastBatch) return
      // the guard advances only AFTER the forwarding job succeeds
      // (ReinjectLoop's discipline): marking first would record a
      // batch whose transport send FAILED as forwarded, and the
      // recovery replay would be silently dropped — event loss
      import graft.sources.RiemannProtobuf
      val spark = batch.sparkSession
      import spark.implicits._
      val n = batchSize
      batch.select(
        col("host").cast("string"), col("service").cast("string"),
        col("state").cast("string"), col("metric").cast("double"),
        col("time_s").cast("long"), col("ttl").cast("double"))
        .as[(String, String, String, Option[Double], Option[Long], Option[Double])]
        .foreachPartition {
          (rows: Iterator[(String, String, String, Option[Double], Option[Long], Option[Double])]) =>
            transport(rows.grouped(n).map { g =>
              RiemannProtobuf.frame(RiemannProtobuf.encodeMsg(g.map {
                case (h, s, st, m, t, ttl) =>
                  RiemannProtobuf.PEvent(h, s, st, null, m, Seq(), t, ttl, Map())
              }.toSeq))
            })
        }
      lastBatch = batchId
    }
  }

  /** RabbitMQ publisher (reference src/riemann/rabbitmq.clj:17-82):
    * events rendered as JSON and published to an exchange under a
    * routing key. The AMQP client is injected as
    * `(config, routingKey, payload) => Unit` — the full config reaches
    * the client so exchange declaration and content-type settings (the
    * reference's `:exchange-settings` defaults) are honored. */
  case class RabbitMqConfig(
      exchange: String = "riemann", exchangeType: String = "topic",
      durable: Boolean = false, autoDelete: Boolean = false,
      internal: Boolean = false, routingKey: String = "riemann.events",
      contentType: String = "application/json")

  def rabbitMq(cfg: RabbitMqConfig,
      publish: (RabbitMqConfig, String, String) => Unit): EventSink =
    RenderSink(df => df.select(eventJson(df)),
      eachRow(r => publish(cfg, cfg.routingKey, r.getString(0))))
}
