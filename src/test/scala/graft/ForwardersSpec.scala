package graft

import graft.sinks.{Forwarders, Notifiers}

/** Payload-exact cases for the metric/check forwarders (reference
  * cloudwatch.clj / stackdriver.clj / zabbix.clj / nagios.clj /
  * pushover.clj / mailgun.clj). */
class ForwardersSpec extends SparkSpec {

  private def batch = events(
    E(id = 1, host = "web01", service = "cpu load", state = "critical",
      metric = 0.95, time = 100L, description = "hot"),
    E(id = 2, host = "web02", service = "mem", state = "zonk",
      metric = null, time = 101L)).coalesce(1)

  test("cloudwatch: service/metric datapoint with Host dimension; guards drop (cloudwatch.clj:8-50)") {
    FwdProbe.calls.clear()
    Forwarders.cloudwatch("Riemann",
      (ns, dp) => { FwdProbe.calls.add((ns, dp)); () }).write(batch, 0L)
    assert(FwdProbe.calls.size == 1) // the metric-less event dropped
    val (ns, dp) = FwdProbe.calls.peek()
    assert(ns == "Riemann")
    assert(dp ==
      """{"metric_name":"cpu load","value":0.95,""" +
        """"dimensions":[{"name":"Host","value":"web01"}]}""")
  }

  test("stackdriver: whitespace-dotted names, one envelope per partition (stackdriver.clj:10-46)") {
    FwdProbe.calls.clear()
    Forwarders.stackdriver("SDKEY",
      (url, headers, body) =>
        { FwdProbe.calls.add((url, headers("x-stackdriver-apikey") + "|" + body)); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 1)
    val (url, kb) = FwdProbe.calls.peek()
    assert(url == "https://custom-gateway.stackdriver.com/v1/custom")
    assert(kb == "SDKEY|" +
      """{"timestamp":100,"proto_version":1,"data":[""" +
      """{"name":"cpu.load","value":0.95,"collected_at":100}]}""")
  }

  test("zabbix: sender frame is ZBXD\\1 + LE length + request (zabbix.clj:30-61)") {
    FwdProbe.frames.clear()
    Forwarders.zabbix(f => { FwdProbe.frames.add(f); () })
      .write(batch, 0L)
    assert(FwdProbe.frames.size == 1)
    val f = FwdProbe.frames.peek()
    assert(new String(f.take(4), "US-ASCII") == "ZBXD")
    assert(f(4) == 1.toByte)
    val len = java.nio.ByteBuffer.wrap(f, 5, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val body = new String(f.drop(13), "UTF-8")
    assert(len == body.getBytes("UTF-8").length)
    assert(body.startsWith("""{"request":"sender data","data":["""))
    assert(body.contains(
      """{"host":"web01","key":"cpu load","value":"0.95","clock":100}"""))
    // metric-less event still ships, value "" (the reference's str nil)
    assert(body.contains("""{"host":"web02","key":"mem","value":"","clock":101}"""))
  }

  test("nagios: state map ok/warning pass, error->critical, else unknown (nagios.clj:10-46)") {
    FwdProbe.calls.clear()
    val sink = Forwarders.nagios((h, st, sv, d) =>
      { FwdProbe.calls.add((h, s"$st/$sv/$d")); () })
    sink.write(events(
      E(id = 1, host = "a", service = "s1", state = "error", description = "x"),
      E(id = 2, host = "b", service = "s2", state = "warning"),
      E(id = 3, host = "c", service = "s3", state = null)).coalesce(1), 0L)
    val got = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    FwdProbe.calls.forEach(e => { got += e; () })
    assert(got.sortBy(_._1).toSeq == Seq(
      ("a", "critical/s1/x"), ("b", "warning/s2/"), ("c", "unknown/s3/")))
  }

  test("pushover: priority table and message params (pushover.clj:15-35)") {
    FwdProbe.calls.clear()
    Notifiers.pushover("TOK", "USR",
      form => { FwdProbe.calls.add((form("title"), form.toString)); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 2)
    val all = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    FwdProbe.calls.forEach(e => { all += e; () })
    val crit = all.find(_._1 == "web01 cpu load").get._2
    assert(crit.contains("priority -> 1"))
    assert(crit.contains("message -> web01 cpu load is critical (0.95)"))
    assert(crit.contains("expire -> 2400") && crit.contains("retry -> 600"))
    // unknown state -> default -1
    assert(all.find(_._1 == "web02 mem").get._2.contains("priority -> -1"))
  }

  test("mailgun: one message per batch through the standard subject/body (mailgun.clj:28-38)") {
    FwdProbe.calls.clear()
    Notifiers.mailgun("sandbox.mg", "KEY", "riemann@x", "ops@x",
      (url, auth, form) =>
        { FwdProbe.calls.add((url, auth + "|" + form("subject"))); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 1)
    val (url, as) = FwdProbe.calls.peek()
    assert(url == "https://api.mailgun.net/v2/sandbox.mg/messages")
    assert(as.startsWith("api:KEY|"))
    // the common.clj subject over both events
    assert(as.contains("web01 and web02"))
  }
  test("logstash/logentries: line shapes incl. source field and token suffix") {
    FwdProbe.calls.clear()
    Notifiers.logstash(l => { FwdProbe.calls.add(("ls", l)); () })
      .write(batch, 0L)
    val ls = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    FwdProbe.calls.forEach(e => { ls += e; () })
    assert(ls.size == 2)
    assert(ls.forall(_._2.endsWith("\n")))
    assert(ls.exists(_._2.contains(""""source":"web01"""")))

    FwdProbe.calls.clear()
    Notifiers.logentries("TOKEN-1",
      l => { FwdProbe.calls.add(("le", l)); () }).write(batch, 0L)
    val le = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    FwdProbe.calls.forEach(e => { le += e; () })
    // description prefixes with a comma; pairs are k='v'; token trails
    assert(le.exists(_._2 == "hot, host='web01' service='cpu load' " +
      "state='critical' metric='0.95' time='100' TOKEN-1\n"))
    assert(le.exists(_._2.startsWith(" host='web02'"))) // no description
  }

  test("hipchat: one colored room notification per partition (hipchat.clj:7-48)") {
    FwdProbe.calls.clear()
    Notifiers.hipchat("api.hipchat.com", "TOK40", "42", notify = true,
      (url, form) => { FwdProbe.calls.add((url, form.toString)); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 1)
    val (url, form) = FwdProbe.calls.peek()
    assert(url ==
      "https://api.hipchat.com/v2/room/42/notification?auth_token=TOK40")
    assert(form.contains("color -> red")) // first event is critical
    assert(form.contains("Host: web01 \nService: cpu load \nState: critical " +
      "\nMetric: 0.95 \nDescription: hot\n\nHost: web02"))
  }

  test("twilio: SMS per batch via the common body, account auth (twilio.clj:17-48)") {
    FwdProbe.calls.clear()
    Notifiers.twilio("AC99", "KEY", "+15005550006", "+15551234567",
      (url, auth, form) =>
        { FwdProbe.calls.add((url, auth + "|" + form("To") + "|" + form("Body").take(30))); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 1)
    val (url, parts) = FwdProbe.calls.peek()
    assert(url ==
      "https://api.twilio.com/2010-04-01/Accounts/AC99/Messages.json")
    assert(parts.startsWith("AC99:KEY|+15551234567|At "))
  }

  test("xymon: status/enable/disable formats and the combo frame (xymon.clj:10-135)") {
    val withTtl = events(
      E(id = 1, host = "a.example.com", service = "disk usage",
        state = "red", description = "85%", ttl = 90.0)).coalesce(1)
    val status = withTtl.select(Forwarders.xymonStatus)
      .collect().head.getString(0)
    // ttl 90 -> +2 lifetime; dots->commas in host; dot/space->_ in service
    assert(status == "status+2 a,example,com.disk_usage red 85%\n")
    assert(withTtl.select(Forwarders.xymonEnable).collect().head.getString(0)
      == "enable a,example,com.disk_usage")
    assert(withTtl.select(Forwarders.xymonDisable).collect().head.getString(0)
      == "disable a,example,com.disk_usage 2 85%")
    FwdProbe.calls.clear()
    Forwarders.xymon(m => { FwdProbe.calls.add(("xy", m)); () })
      .write(batch, 0L)
    val combo = FwdProbe.calls.peek()._2
    assert(combo.startsWith("combo\nstatus web01.cpu_load critical hot\n"))
    assert(combo.contains("status web02.mem zonk"))
    assert(combo.endsWith("\n\n"))
  }

  test("blueflood/druid/netuitive: batched JSON ingest bodies") {
    FwdProbe.calls.clear()
    Forwarders.blueflood("bf", 19000, "t1",
      (url, body) => { FwdProbe.calls.add((url, body)); () }).write(batch, 0L)
    val (bu, bb) = FwdProbe.calls.poll()
    assert(bu == "http://bf:19000/v2.0/t1/ingest")
    assert(bb == """[{"collectionTime":100,"ttlInSeconds":2592000,""" +
      """"metricValue":0.95,"metricName":"web01.cpu load"}]""")

    Forwarders.druid("dr", 8200, "riemann",
      (url, body) => { FwdProbe.calls.add((url, body)); () }).write(batch, 0L)
    val (du, db) = FwdProbe.calls.poll()
    assert(du == "http://dr:8200/v1/post/riemann")
    assert(db.contains(""""timestamp":"1970-01-01T00:01:40.000Z""""))
    assert(db.contains(""""value":0.95"""))

    Forwarders.netuitive("KEY123", "Riemann",
      (url, body) => { FwdProbe.calls.add((url, body)); () }).write(batch, 0L)
    val (nu, nb) = FwdProbe.calls.poll()
    assert(nu == "https://api.app.netuitive.com/ingest/KEY123")
    assert(nb.contains(""""id":"Riemann:web01""""))
    assert(nb.contains(""""metricId":"cpu.load","timestamp":100000,"val":0.95"""))
  }

  test("shinken: ws-arbiter form params per event (shinken.clj:13-20)") {
    FwdProbe.calls.clear()
    Forwarders.shinken("sk", 7760, "admin", "secret",
      (url, auth, form) =>
        { FwdProbe.calls.add((url, auth + "|" + form.toSeq.sorted.mkString(","))); () })
      .write(batch, 0L)
    assert(FwdProbe.calls.size == 2)
    val (url, af) = FwdProbe.calls.peek()
    assert(url == "http://sk:7760/push_check_result")
    assert(af.startsWith("admin:secret|"))
    assert(af.contains("(host_name,web01)"))
    assert(af.contains("(return_code,critical)"))
    assert(af.contains("(output,0.95)"))
  }

  test("boundary: boundarified metric ids as measurement tuples (boundary.clj:17-105)") {
    FwdProbe.calls.clear()
    Forwarders.boundary("e@x", "TK", Some("org"), async = false,
      (url, auth, body) => { FwdProbe.calls.add((url, auth + "|" + body)); () })
      .write(events(
        E(id = 1, host = "h1", service = "foo bar!", metric = 2.0, time = 5L),
        E(id = 2, host = "h2", service = "!#@", metric = 3.0, time = 6L),
        E(id = 3, host = null, service = "nil host", metric = null, time = 7L))
        .coalesce(1), 0L)
    assert(FwdProbe.calls.size == 1)
    val (url, ab) = FwdProbe.calls.peek()
    assert(url == "https://premium-api.boundary.com/v1/measurements")
    // "foo bar!" -> ORG_FOO_BAR; "!#@" boundarifies to empty -> dropped;
    // null host/metric still post a 4-tuple with explicit nulls
    // (boundary.clj always ships 4-vectors)
    assert(ab ==
      """e@x:TK|[["h1","ORG_FOO_BAR",2.0,5],[null,"ORG_NIL_HOST",null,7]]""")
  }

  test("keenio: project/collection URL with write key (keenio.clj:9-35)") {
    FwdProbe.calls.clear()
    Notifiers.keenIo("alerts", "PID", "WK",
      (url, body) => { FwdProbe.calls.add((url, body)); () }).write(batch, 0L)
    assert(FwdProbe.calls.size == 2)
    val (url, body) = FwdProbe.calls.peek()
    assert(url == "https://api.keen.io/3.0/projects/PID/events/alerts?api_key=WK")
    assert(body.contains(""""host":"web01""""))
  }
}

object FwdProbe {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val frames = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
}
