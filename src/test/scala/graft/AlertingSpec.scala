package graft

import graft.sinks.Alerting

/** Payload-exact cases for the long-tail alerting sinks (reference
  * msteams.clj / telegram.clj / opsgenie.clj / victorops.clj). */
class AlertingSpec extends SparkSpec {

  private def onePartition = events(
    E(id = 1, host = "web01", service = "cpu", state = "critical",
      metric = 0.95, tags = Seq("b", "a"), time = 10L),
    E(id = 2, host = null, service = "mem", state = "ok",
      metric = null, time = 11L)).coalesce(1)

  test("msteams: one MessageCard per partition, one section per event (msteams.clj:7-32)") {
    AlertProbe.posts.clear()
    Alerting.msTeams(b => { AlertProbe.posts.add(("", b)); () })
      .write(onePartition, 0L)
    assert(AlertProbe.posts.size == 1)
    val body = AlertProbe.posts.peek()._2
    assert(body.startsWith(
      """{"@type":"MessageCard","@context":"http://schema.org/extensions","""))
    assert(body.contains(""""title":"cpu is critical""""))
    assert(body.contains(""""title":"mem is ok""""))
    assert(body.contains("""{"name":"Tags","value":"b, a"}"""))
    // nil host/metric: the fact rides with an explicit JSON null value,
    // exactly as cheshire renders nil (cheshireJson sets
    // ignoreNullFields=false so the key is never dropped)
    assert(body.contains(
      """"facts":[{"name":"Service","value":"mem"},{"name":"Host","value":null}"""))
  }

  test("telegram: markdown and HTML parse modes (telegram.clj:9-26)") {
    AlertProbe.posts.clear()
    Alerting.telegram("TOK", "42", "Markdown",
      (url, form) => { AlertProbe.posts.add((url, form.toString)); () })
      .write(onePartition, 0L)
    assert(AlertProbe.posts.size == 2)
    val (url, form) = AlertProbe.posts.peek()
    assert(url == "https://api.telegram.org/botTOK/sendMessage")
    assert(form.contains("chat_id -> 42"))
    assert(form.contains("*Host:* web01\n*Service:* cpu\n*State:* critical\n" +
      "*Metric:* 0.95\n*Description:* -"))
    val html = Alerting.telegramText("HTML")
    val got = onePartition.select(html).collect().head.getString(0)
    assert(got.startsWith("<strong>Host:</strong> web01"))
  }

  test("opsgenie: create body + close URL share the stable alias (opsgenie.clj:21-66)") {
    AlertProbe.posts.clear()
    Alerting.opsgenie("KEY", close = false,
      (url, headers, body) =>
        { AlertProbe.posts.add((url, headers("Authorization") + "|" + body)); () })
      .write(onePartition, 0L)
    assert(AlertProbe.posts.size == 2)
    val (url, hb) = AlertProbe.posts.peek()
    assert(url == "https://api.opsgenie.com/v2/alerts")
    assert(hb.startsWith("GenieKey KEY|"))
    assert(hb.contains(""""message":"web01: [critical] cpu""""))
    assert(hb.contains(
      """"description":"Host: web01 \nService: cpu \nState: critical \nMetric: 0.95 \nDescription: """"))
    assert(hb.contains(""""tags":["b","a"]"""))
    val alias = "\"alias\":\"(\\w{15})\"".r.findFirstMatchIn(hb).get.group(1)

    AlertProbe.posts.clear()
    Alerting.opsgenie("KEY", close = true,
      (u, _, b) => { AlertProbe.posts.add((u, b)); () })
      .write(onePartition, 0L)
    val closes = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    AlertProbe.posts.forEach(e => { closes += e; () })
    // the close path addresses the SAME alias the create body carried
    assert(closes.exists(_._1 ==
      s"https://api.opsgenie.com/v2/alerts/$alias/close?identifierType=alias"))
    assert(closes.forall(_._2 == """{"user":"Riemann"}"""))
  }

  test("victorops: message type, entity id, state message (victorops.clj:21-34)") {
    AlertProbe.posts.clear()
    Alerting.victorOps("AK", "RK", "CRITICAL",
      (url, body) => { AlertProbe.posts.add((url, body)); () })
      .write(onePartition, 0L)
    assert(AlertProbe.posts.size == 2)
    val (url, body) = AlertProbe.posts.peek()
    assert(url ==
      "https://alert.victorops.com/integrations/generic/20131114/alert/AK/RK")
    assert(body.contains(""""message_type":"CRITICAL""""))
    assert(body.contains(""""entity_id":"web01/cpu""""))
    assert(body.contains(""""timestamp":10"""))
    assert(body.contains(""""state_message":"web01 cpu is critical (0.95)""""))
    assert(body.contains(""""entity_is_host":false"""))
    assert(body.contains(""""monitoring_tool":"riemann""""))
  }
}

object AlertProbe {
  val posts =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
