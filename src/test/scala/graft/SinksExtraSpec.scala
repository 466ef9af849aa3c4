package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{Alerting, Forwarders, Metrics, Sinks}
import graft.operators.{Streams, Windows}

/** Dead-letter routing (streams.clj:81-121 exception-stream), pubsub
  * fan-out (pubsub.clj:35-109), rollup buffered emission and typed smap. */
class SinksExtraSpec extends SparkSpec {

  test("guarded sink routes failing batches to the dead letter (streams.clj:81-121)") {
    val dead = new Sinks.MemorySink
    val boom = new Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit =
        throw new IllegalStateException("downstream down")
    }
    val g = new Sinks.Guarded(boom, dead)
    g.write(events(E(id = 1, metric = 1.0)), 7L)
    // the original batch row + one exception-descriptor event
    assert(dead.size == 2)
    val descr = dead.rows.toArray.map(_.toString).mkString
    assert(descr.contains("IllegalStateException"))
  }

  test("pubsub channels fan out; query subscriptions filter (pubsub.clj:35-109)") {
    val all = new Sinks.MemorySink
    val crit = new Sinks.MemorySink
    val ps = new Sinks.Pubsub
    ps.subscribe("index", all)
    ps.subscribeQuery("index", "state = \"critical\"", crit)
    ps.publish("index", events(
      E(id = 1, state = "ok"), E(id = 2, state = "critical")))
    ps.publish("other-channel", events(E(id = 3, state = "critical")))
    assert(all.size == 2)  // only the subscribed channel
    assert(crit.size == 1) // query-filtered
  }

  test("pubsub SEvent-shaped fan-out takes the one-collect closure " +
    "path and routes identically to the Catalyst filters") {
    val spark0 = spark
    import spark0.implicits._
    def ev(h: String, st: String, m: Double) = graft.streaming.SEvent(
      h, "cpu", st, Some(m), new java.sql.Timestamp(1706000000000L), Some(60.0))
    val batch = spark.createDataset(Seq(
      ev("a", "ok", 0.2), ev("b", "critical", 0.9),
      ev("c", "critical", 0.4), ev("d", null, 0.7))).toDF()
    val all = new Sinks.MemorySink
    val crit = new Sinks.MemorySink
    val hot = new Sinks.MemorySink
    val ps = new Sinks.Pubsub
    ps.subscribe("index", all)
    // >= 2 query subscriptions on the exact SEvent shape engage the
    // driver-side fan-out (one collect, per-subscriber closures)
    ps.subscribeQuery("index", "state = \"critical\"", crit)
    ps.subscribeQuery("index", "metric > 0.5", hot)
    ps.publish("index", batch, 1L)
    assert(all.size == 4)
    import scala.jdk.CollectionConverters._
    assert(crit.rows.asScala.map(_.getAs[String]("host")).toSet ==
      Set("b", "c"))
    assert(hot.rows.asScala.map(_.getAs[String]("host")).toSet ==
      Set("b", "d"))
    // null fields survive the local-relation round trip
    assert(hot.rows.asScala.exists(r => r.getAs[String]("state") == null))
    // a batch whose shape the fast path does NOT recognize (the wide
    // event-relation helper: extra id/description/attributes columns
    // in a different order) must fall back to Catalyst, where `tagged`
    // evaluates against the real tags column
    val tagged = new Sinks.MemorySink
    val tagged2 = new Sinks.MemorySink
    ps.subscribe("wide", new Sinks.MemorySink)
    ps.subscribeQuery("wide", "tagged \"prod\"", tagged)
    ps.subscribeQuery("wide", "tagged \"prod\"", tagged2)
    ps.publish("wide", events(
      E(id = 1, tags = Seq("prod")), E(id = 2, tags = Seq("dev"))))
    assert(tagged.size == 1 && tagged2.size == 1)
  }

  test("rollup emits buffered overflow metrics (streams.clj:1120-1156)") {
    val df = events(
      E(id = 1, metric = 1.0, time = 10L), E(id = 2, metric = 2.0, time = 20L),
      E(id = 3, metric = 3.0, time = 30L), E(id = 4, metric = 4.0, time = 40L))
    val row = Windows.rollup(df, 2, 100, Seq("host")).collect().head
    assert(row.getAs[Long]("passed") == 2L)
    assert(row.getAs[Long]("rolled") == 2L)
    assert(row.getSeq[Double](row.fieldIndex("rolled_metrics")) == Seq(3.0, 4.0))
  }

  test("ddt-real samples at interval boundaries (streams.clj:776-839)") {
    val df = events(
      E(id = 1, metric = 0.0, time = 50L), E(id = 2, metric = 10.0, time = 90L),
      E(id = 3, metric = 40.0, time = 150L))
    // buckets of 100s: [0,100) last=10 @ start 0; [100,200) last=40 @ 100
    val rows = Windows.ddtReal(df, 100, Seq("host")).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("ddt") == 0.3) // (40-10)/100
  }

  test("elasticsearch bulk sink formats NDJSON bodies (elasticsearch.clj:37-190)") {
    EsProbe.bodies.clear()
    val sink = Sinks.elasticsearchBulk("riemann",
      b => EsProbe.bodies.add(b))
    sink.write(events(E(id = 1, service = "api", metric = 1.0)).coalesce(1), 0L)
    assert(EsProbe.bodies.size() == 1)
    val body = EsProbe.bodies.peek()
    assert(body.startsWith("""{"index":{"_index":"riemann"}}""" + "\n"))
    assert(body.contains("\"service\":\"api\""))
  }

  test("webhook sink posts one JSON payload per event (slack.clj:71 family)") {
    EsProbe.bodies.clear()
    val sink = Sinks.webhook(p => EsProbe.bodies.add(p))
    sink.write(events(E(id = 1, state = "critical"), E(id = 2, state = "ok")), 0L)
    assert(EsProbe.bodies.size() == 2)
  }

  test("modes returns all tied maxima, mode the smallest (folds.clj:166-184)") {
    val df = events(
      E(id = 1, metric = 1.0), E(id = 2, metric = 2.0), E(id = 3, metric = 2.0),
      E(id = 4, metric = 3.0), E(id = 5, metric = 3.0))
    val row = graft.functions.Folds.modesAll(df, "metric", Nil).collect().head
    assert(row.getSeq[Double](0) == Seq(2.0, 3.0))
    assert(row.getLong(1) == 2L)
  }

  test("by threads keys into the built topology (streams.clj:1556-1612)") {
    val df = events(
      E(id = 1, host = "a", metric = 1.0, time = 1L),
      E(id = 2, host = "a", metric = 2.0, time = 2L),
      E(id = 3, host = "b", metric = 5.0, time = 3L))
    val out = Streams.by(df, Seq("host")) { (d, keys) =>
      Windows.sreduceRunning(d, keys, "running_sum" ->
        sum(col("metric")))
    }
    val sums = out.orderBy("event_id").select("running_sum")
      .collect().map(_.getDouble(0)).toSeq
    assert(sums == Seq(1.0, 3.0, 5.0)) // per-host isolation
  }

  test("forward sink re-encodes framed protobuf msgs (streams.clj:1255-1261)") {
    ForwardProbe.msgs.clear()
    val sink = new Sinks.ForwardSink(ms => ms.foreach(ForwardProbe.msgs.add))
    sink.write(events(
      E(id = 1, host = "a", service = "s", state = "ok", metric = 1.5, time = 10L),
      E(id = 2, host = "b", service = "s", state = "ok", metric = 2.5, time = 20L))
      .coalesce(1), 0L)
    assert(ForwardProbe.msgs.size() == 1) // one framed msg per batch group
    val decoded = graft.sources.RiemannProtobuf.decodeMsg(
      graft.sources.RiemannProtobuf.unframe(ForwardProbe.msgs.peek()))
    assert(decoded.map(e => (e.host, e.metric.get)).toSet ==
      Set(("a", 1.5), ("b", 2.5)))
  }

  test("forward sink replay contract: a same-process batchId replay is " +
    "dropped, a fresh sink (process restart) re-forwards — at-least-once") {
    ForwardProbe.msgs.clear()
    val batch = events(
      E(id = 1, host = "a", service = "s", state = "ok", metric = 1.5, time = 10L))
      .coalesce(1)
    val sink = new Sinks.ForwardSink(ms => ms.foreach(ForwardProbe.msgs.add))
    sink.write(batch, 7L)
    sink.write(batch, 7L) // foreachBatch replay, same process: dropped
    sink.write(batch, 6L) // older id after a newer one: dropped too
    assert(ForwardProbe.msgs.size() == 1)
    // a restarted process reconstructs the sink; the recovered query's
    // replayed batch forwards again — the documented at-least-once tail
    val fresh = new Sinks.ForwardSink(ms => ms.foreach(ForwardProbe.msgs.add))
    fresh.write(batch, 7L)
    assert(ForwardProbe.msgs.size() == 2)

    // a batch whose transport FAILED must not advance the guard: the
    // recovery replay of the same batchId must go through (marking
    // before the send would silently drop those events)
    var fail = true
    val flaky = new Sinks.ForwardSink(ms => {
      val mats = ms.toSeq // force encode before deciding
      if (fail) throw new java.io.IOException("downstream reset")
      mats.foreach(ForwardProbe.msgs.add)
    })
    intercept[Exception](flaky.write(batch, 9L))
    fail = false
    flaky.write(batch, 9L) // replay after failure: must forward
    assert(ForwardProbe.msgs.size() == 3)
  }

  test("typed smap drops None results (streams.clj:163-175)") {
    val spark0 = spark
    import spark0.implicits._
    val ds = Seq(1.0, -1.0, 2.0).toDS()
    val out = Streams.smapTyped(ds)(x => if (x > 0) Some(x * 10) else None)
    assert(out.collect().sorted.toSeq == Seq(10.0, 20.0))
  }

  test("influxdb sink formats line protocol with escaping (influxdb.clj:135-231)") {
    InfluxProbe.lines.clear()
    val sink = Metrics.influxDb(ls => ls.foreach(InfluxProbe.lines.add))
    sink.write(events(
      E(id = 1, host = "web01", service = "cpu load", metric = 0.95, time = 10L),
      E(id = 2, host = "a=b,c d", service = "mem", metric = 512.0, time = 11L),
      E(id = 3, host = "drop", service = "nil", metric = null, time = 12L)), 0L)
    val got = InfluxProbe.lines.toArray.map(_.toString).toSet
    assert(got == Set(
      "cpu\\ load,host=web01 value=0.95 10000000000",
      "mem,host=a\\=b\\,c\\ d value=512.0 11000000000"))
  }

  test("graphite path functions (graphite.clj:65-107)") {
    import graft.sources.LineProtocols
    val df = events(E(id = 1, host = "foo.bar.com", service = "cpu load",
      time = 0L))
    assert(one[String](df.select(
      LineProtocols.graphitePathBasic.as("p")), "p") == "com.bar.foo.cpu.load")
    // trailing decimal collapses to the fraction digits — for ANY whole
    // part (the reference's replacement fn drops it unconditionally)
    for (svc <- Seq("api latency 0.95", "api latency 1.95")) {
      val d = events(E(id = 1, host = null, service = svc, time = 0L))
      assert(one[String](d.select(
        LineProtocols.graphitePathPercentiles.as("p")), "p") == "api.latency.95")
    }
    // non-decimal tails untouched
    val plain = events(E(id = 1, host = null, service = "disk used", time = 0L))
    assert(one[String](plain.select(
      LineProtocols.graphitePathPercentiles.as("p")), "p") == "disk.used")
    // tags form: dotted service + ;field=value for present fields
    val tagged = events(E(id = 1, host = "foo", service = "api req",
      state = null, time = 0L))
    assert(one[String](tagged.select(
      LineProtocols.graphitePathTags(Seq("host", "state")).as("p")), "p")
      == "api.req;host=foo")
  }

  test("opentsdb sink emits put lines its own decoder round-trips (opentsdb.clj:38-110)") {
    import graft.sources.LineProtocols
    InfluxProbe.lines.clear()
    val sink = Metrics.openTsdb(ls => ls.foreach(InfluxProbe.lines.add))
    sink.write(events(
      E(id = 1, host = "web01", service = "cpu load", metric = 0.95, time = 10L),
      E(id = 2, host = null, service = "mem", metric = 512.0, time = 11L),
      E(id = 3, host = "drop", service = null, metric = 1.0, time = 12L)), 0L)
    val got = InfluxProbe.lines.toArray.map(_.toString).toSet
    assert(got == Set(
      "put cpu.load 10 0.95 host=web01\n",
      "put mem 11 512.0\n"))
    // decode inverts encode: service (dotted), host tag, metric, time
    val spark0 = spark
    import spark0.implicits._
    val back = LineProtocols
      .decodeOpenTsdb(got.toSeq.toDF("line"))
      .select("service", "host", "metric", "time_s").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(back == Set(
      ("cpu.load", "web01", 0.95, 10L),
      ("mem", null, 512.0, 11L)))
  }

  test("prometheus sink formats sanitized datapoints with sorted labels (prometheus.clj:13-48)") {
    InfluxProbe.lines.clear()
    val sink = Metrics.prometheus(ls => ls.foreach(InfluxProbe.lines.add))
    sink.write(events(
      E(id = 1, host = "web01", service = "cpu load%", state = "ok",
        metric = 0.95, attributes = Map("dc" -> "east"), time = 10L),
      E(id = 2, host = "a", service = "mem", state = null, metric = 512.0,
        time = 11L),
      E(id = 3, host = "drop", service = null, metric = 1.0, time = 12L),
      E(id = 4, host = "drop2", service = "s", metric = null, time = 13L)), 0L)
    val got = InfluxProbe.lines.toArray.map(_.toString).toSet
    // "cpu load%" -> "cpu_load_" (disallowed -> _, runs collapsed);
    // labels sorted by key; null state label dropped; float rendering
    assert(got == Set(
      "cpu_load_{dc=east,host=web01,state=ok} 0.95\n",
      "mem{host=a} 512.0\n"))
  }

  test("kairosdb sink emits millisecond put lines (kairosdb.clj:25-36)") {
    InfluxProbe.lines.clear()
    val sink = Metrics.kairosDb(ls => ls.foreach(InfluxProbe.lines.add))
    sink.write(events(
      E(id = 1, host = "web01", service = "cpu load", metric = 0.95, time = 10L),
      E(id = 2, host = "drop", service = null, metric = 1.0, time = 11L)), 0L)
    assert(InfluxProbe.lines.toArray.map(_.toString).toSet ==
      Set("put cpu.load 10000 0.95 host=web01\n"))
  }

  test("librato sink collates safe-named gauges per partition (librato.clj:9-27)") {
    InfluxProbe.lines.clear()
    val sink = Metrics.librato(
      body => { InfluxProbe.lines.add(body); () })
    sink.write(events(
      E(id = 1, host = "web 01!", service = "cpu load%", metric = 0.95,
        time = 10L),
      E(id = 2, host = "drop", service = "nil", metric = null, time = 11L))
      .coalesce(1), 0L)
    assert(InfluxProbe.lines.size == 1)
    // spaces -> periods, disallowed chars stripped, metric-less dropped
    assert(InfluxProbe.lines.peek() ==
      """{"gauges":[{"name":"cpu.load","source":"web.01","value":0.95,"measure_time":10}]}""")
  }

  test("influxdb2 sink: v2 write URL, token header, precision-scaled body (influxdb2.clj:32-120)") {
    Influx2Probe.posts.clear()
    val cfg = Metrics.Influx2Config(organization = "acme", bucket = "metrics",
      host = "flux.example.com", token = "s3cr3t", precision = "ms")
    val sink = Metrics.influx2(cfg,
      (url, headers, body) => { Influx2Probe.posts.add((url, headers, body)); () })
    sink.write(events(
      E(id = 1, host = "web 01", service = "cpu load", metric = 0.95, time = 10L),
      E(id = 2, host = null, service = "mem", metric = 2.0, time = 11L),
      E(id = 3, host = "drop", service = "nil", metric = null, time = 12L))
      .coalesce(1), 0L)
    assert(Influx2Probe.posts.size == 1)
    val (url, headers, body) = Influx2Probe.posts.peek()
    assert(url ==
      "http://flux.example.com:8086/api/v2/write?org=acme&bucket=metrics&precision=ms")
    assert(headers("Authorization") == "Token s3cr3t")
    // escaping as v1; null host drops the tag; ms-scaled timestamps;
    // the metric-less event is dropped
    assert(body ==
      "cpu\\ load,host=web\\ 01 value=0.95 10000\nmem value=2.0 11000")
  }

  test("slack sink: escaped attachment message with vector-literal tags (slack.clj:8-39)") {
    InfluxProbe.lines.clear()
    val sink = Alerting.slack("Riemann bot", "#monitoring", ":smile:",
      body => { InfluxProbe.lines.add(body); () })
    sink.write(events(
      E(id = 1, host = "web<1>", service = "cpu & load", state = "critical",
        metric = 0.95, tags = Seq("a", "b"), time = 10L)).coalesce(1), 0L)
    assert(InfluxProbe.lines.size == 1)
    val body = InfluxProbe.lines.peek()
    assert(body.contains(""""username":"Riemann bot""""))
    assert(body.contains(""""channel":"#monitoring""""))
    // slack-escape: <,>,& to entities, & first (no double escaping)
    assert(body.contains("web&lt;1&gt;"))
    assert(body.contains("cpu &amp; load"))
    // the Clojure vector literal for tags
    assert(body.contains("""Tags:   [\"a\" \"b\"]"""))
    assert(body.contains(""""title":"Riemann Event""""))
    assert(body.contains("*Host:* web&lt;1&gt; *Service:* cpu &amp; load " +
      "*State:* critical *Description:* - *Metric:* 0.95"))
  }

  test("pagerduty v2/v1 bodies: routing key, action, summary, dedup key (pagerduty.clj:29-72)") {
    InfluxProbe.lines.clear()
    val v2 = Alerting.pagerduty("rk-123", "trigger",
      body => { InfluxProbe.lines.add(body); () })
    v2.write(events(
      E(id = 1, host = "web01", service = "cpu", state = "critical",
        metric = 0.95, time = 10L,
        attributes = Map("dedup-key" -> "incident-7"))).coalesce(1), 0L)
    assert(InfluxProbe.lines.size == 1)
    val body = InfluxProbe.lines.poll()
    assert(body.contains(""""routing_key":"rk-123""""))
    assert(body.contains(""""event_action":"trigger""""))
    assert(body.contains(""""summary":"web01 - cpu is critical (0.95)""""))
    assert(body.contains(""""source":"web01""""))
    assert(body.contains(""""severity":"critical""""))
    assert(body.contains(""""dedup_key":"incident-7""""))
    // the reproduced reference quirk: the event's 10 SECONDS are fed
    // to a millis parser, rendering as 10 ms into 1970
    assert(body.contains(""""timestamp":"1970-01-01T00:00:00.010Z""""))

    val v1 = Alerting.pagerduty("sk-9", "resolve",
      b => { InfluxProbe.lines.add(b); () }, v2 = false)
    v1.write(events(
      E(id = 2, host = "web01", service = "cpu", state = "ok",
        metric = 0.1, time = 11L)).coalesce(1), 0L)
    val b1 = InfluxProbe.lines.poll()
    assert(b1.contains(""""service_key":"sk-9""""))
    assert(b1.contains(""""event_type":"resolve""""))
    assert(b1.contains(""""incident_key":"web01 cpu""""))
    assert(b1.contains(""""description":"web01 cpu is ok (0.1)""""))
  }

  test("datadog sink posts one series body per partition; entries are valid gauge JSON (datadog.clj:9-36)") {
    // reference the probe OBJECT inside the lambda: the sink closure is
    // serialized into the task, so capturing a local val (even one
    // pointing at the static queue) adds to a deserialized copy
    InfluxProbe.lines.clear()
    val sink = Metrics.datadog(
      body => { InfluxProbe.lines.add(body); () })
    val posted = InfluxProbe.lines
    sink.write(events(
      E(id = 1, host = "web01", service = "cpu load", metric = 0.95,
        tags = Seq("a", "b"), time = 10L),
      E(id = 2, host = null, service = "q\"uo\\te", metric = 2.0,
        tags = Seq(), time = 11L),
      E(id = 3, host = "drop", service = null, metric = 1.0, time = 12L))
      .coalesce(1), 0L)
    assert(posted.size == 1)
    val body = posted.peek()
    assert(body.startsWith("""{"series":[""") && body.endsWith("]}"))
    assert(body.contains("""{"metric":"cpu.load","type":"gauge","host":"web01","tags":["a","b"],"points":[[10,0.95]]}"""))
    // null host -> JSON null; empty tags -> []; quotes/backslashes escaped
    assert(body.contains("""{"metric":"q\"uo\\te","type":"gauge","host":null,"tags":[],"points":[[11,2.0]]}"""))
    // every entry parses as JSON (the escape pass is sound)
    val parsed = spark.read.json(
      spark.createDataset(Seq(body))(org.apache.spark.sql.Encoders.STRING))
    assert(!parsed.columns.contains("_corrupt_record"))
  }

  test("render sinks deliver per partition: a joined body per non-empty " +
    "partition, none for an empty or fully-guarded one") {
    // four explicit partitions: two events | none | one metric-less
    // event (the metric guard removes every row) | one event
    def row(id: Long, host: String, metric: java.lang.Double) =
      org.apache.spark.sql.Row(id, host, "cpu", null, null, metric, null,
        10L + id, null, null)
    val layout = Seq(Seq(row(1, "a", 1.0), row(2, "b", 2.0)), Seq(),
      Seq(row(3, "c", null)), Seq(row(4, "d", 4.0)))
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(layout, layout.size).flatMap(identity),
      eventSchema)
    assert(batch.rdd.getNumPartitions == 4)
    import scala.jdk.CollectionConverters._

    InfluxProbe.lines.clear()
    Metrics.datadog(body => { InfluxProbe.lines.add(body); () })
      .write(batch, 0L)
    val bodies = InfluxProbe.lines.asScala.toSeq
    assert(bodies.size == 2)
    assert(bodies.forall(b => b.startsWith("""{"series":[""") &&
      b.endsWith("]}")))
    assert(bodies.map(""""metric":""".r.findAllIn(_).length).sorted ==
      Seq(1, 2))

    // per-row delivery: one send per surviving event, nothing from the
    // empty or the guarded-away partition
    EsProbe.bodies.clear()
    Forwarders.cloudwatch("ns", (_, dp) => { EsProbe.bodies.add(dp); () })
      .write(batch, 0L)
    assert(EsProbe.bodies.asScala.toSeq
      .map(""""value":"(\w)"}""".r.findFirstMatchIn(_).get.group(1))
      .sorted == Seq("a", "b", "d"))
  }

  test("rabbitmq sink publishes JSON under the routing key (rabbitmq.clj:17-82)") {
    RabbitProbe.published.clear()
    val sink = Sinks.rabbitMq(
      Sinks.RabbitMqConfig(routingKey = "riemann.events.test"),
      (cfg, rk, payload) => RabbitProbe.published.add(
        (s"${cfg.exchange}/$rk", payload)))
    sink.write(events(E(id = 1, host = "h1", service = "cpu", metric = 1.0))
      .select("host", "service", "metric"), 0L)
    val (rk, payload) = RabbitProbe.published.peek()
    assert(rk == "riemann/riemann.events.test")
    assert(payload.contains(""""host":"h1"""") &&
      payload.contains(""""metric":1.0"""))
  }

  test("rabbitmq consumer decodes un-framed Msg payloads, ok reply is Msg{ok}") {
    val spark0 = spark
    import spark0.implicits._
    import graft.sources.{RiemannProtobuf, Sources}
    val payload = RiemannProtobuf.encodeMsg(Seq(RiemannProtobuf.PEvent(
      "amqp01", "queue_depth", "ok", null, Some(42.0), Seq(), Some(100L),
      None, Map())))
    val df = Seq(payload).toDF("value")
    val out = Sources.rabbitConsume(df)
    assert(out.select("host", "metric").collect().map(r =>
      (r.getString(0), r.getDouble(1))).toSeq == Seq(("amqp01", 42.0)))
    // the reply payload decodes as a Msg with no events (ok flag only)
    assert(RiemannProtobuf.decodeMsg(Sources.rabbitReplyOk).isEmpty)
  }
}

object InfluxProbe {
  val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object Influx2Probe {
  val posts = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, Map[String, String], String)]()
}

object RabbitProbe {
  val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

object EsProbe {
  val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object ForwardProbe {
  val msgs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
}
