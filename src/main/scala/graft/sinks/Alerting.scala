package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The alerting integrations (reference `src/riemann/msteams.clj`,
  * `telegram.clj`, `opsgenie.clj`, `victorops.clj`, `slack.clj`,
  * `pagerduty.clj`) —
  * each is the reference's payload formatter re-expressed as pure
  * codegen'd columns and a factory over [[Sinks.RenderSink]] with the
  * HTTP client injected. Formatting runs distributed; only the final
  * POST leaves the executor. */
object Alerting {

  private def orDash(c: Column) = coalesce(c.cast("string"), lit("-"))
  private def orEmpty(c: Column) = coalesce(c.cast("string"), lit(""))

  // ------------------------------------------------------ Microsoft Teams

  /** One MessageCard section per event (msteams.clj:7-32
    * default-formatter): title "service is state" + the six facts.
    * Nil fields render as JSON nulls exactly like cheshire does. */
  def msteamsSection: Column = struct(
    concat(orEmpty(col("service")), lit(" is "), orEmpty(col("state")))
      .as("title"),
    array(
      struct(lit("Service").as("name"), col("service").as("value")),
      struct(lit("Host").as("name"), col("host").as("value")),
      struct(lit("Metric").as("name"),
        col("metric").cast("string").as("value")),
      struct(lit("State").as("name"), col("state").as("value")),
      struct(lit("Description").as("name"), col("description").as("value")),
      struct(lit("Tags").as("name"),
        array_join(coalesce(col("tags"), array().cast("array<string>")), ", ")
          .as("value"))).as("facts"))

  /** MS Teams incoming-webhook sink (msteams.clj:34-66): each batch
    * partition posts ONE MessageCard whose sections are its events —
    * the reference's events-sequence form. */
  def msTeams(post: String => Unit): Sinks.EventSink = Sinks.RenderSink(
    _.select(Sinks.cheshireJson(msteamsSection)),
    Sinks.joined(
      """{"@type":"MessageCard","@context":"http://schema.org/extensions",""" +
        """"title":"Riemann Alerting","summary":"Received alerts from Riemann",""" +
        """"sections":[""", ",", "]}")(post))

  // ------------------------------------------------------------- Telegram

  /** telegram.clj:9-26: the Markdown (default) and HTML message
    * bodies; nil fields render "-". */
  def telegramText(parseMode: String = "Markdown"): Column = {
    val (b, e) = if (parseMode == "HTML") ("<strong>", "</strong>")
    else ("*", "*")
    concat(
      lit(s"${b}Host:$e "), orDash(col("host")), lit("\n"),
      lit(s"${b}Service:$e "), orDash(col("service")), lit("\n"),
      lit(s"${b}State:$e "), orDash(col("state")), lit("\n"),
      lit(s"${b}Metric:$e "), orDash(col("metric")), lit("\n"),
      lit(s"${b}Description:$e "), orDash(col("description")))
  }

  /** Telegram sendMessage sink (telegram.clj:36-90): one API call per
    * event with (chat_id, parse_mode, text) form params; the bot-token
    * URL is assembled like the reference's `api-url` format. */
  def telegram(token: String, chatId: String,
      parseMode: String = "Markdown",
      post: (String, Map[String, String]) => Unit): Sinks.EventSink = {
    val url = s"https://api.telegram.org/bot$token/sendMessage"
    Sinks.RenderSink(_.select(telegramText(parseMode)),
      Sinks.eachRow(r => post(url, Map(
        "chat_id" -> chatId, "parse_mode" -> parseMode,
        "text" -> r.getString(0)))))
  }

  // ------------------------------------------------------------- OpsGenie

  /** opsgenie.clj:21-51 default-body: message "host: [state] service"
    * (important info first — OpsGenie truncates), the five-line
    * description, a deterministic alias over (host, service, sorted
    * tags), user "Riemann", tags. Divergence (documented): the
    * reference's alias is Clojure's `hash` of the ￿-joined
    * string; an alias only needs to be stable and collision-poor, so
    * here it's the first 15 hex chars of md5 over the same joined
    * string — reproducible in any engine. */
  def opsgenieBody: Column = {
    val sep = "￿" // the reference's joiner char (opsgenie.clj:43)
    val joined = concat_ws(sep, col("host"), col("service"),
      array_join(sort_array(coalesce(col("tags"),
        array().cast("array<string>"))), sep))
    Sinks.cheshireJson(struct(
      concat(orEmpty(col("host")), lit(": ["), orEmpty(col("state")),
        lit("] "), orEmpty(col("service"))).as("message"),
      concat(lit("Host: "), orEmpty(col("host")),
        lit(" \nService: "), orEmpty(col("service")),
        lit(" \nState: "), orEmpty(col("state")),
        lit(" \nMetric: "), orEmpty(col("metric")),
        lit(" \nDescription: "), orEmpty(col("description")))
        .as("description"),
      substring(md5(joined), 1, 15).as("alias"),
      lit("Riemann").as("user"),
      coalesce(col("tags"), array().cast("array<string>")).as("tags")))
  }

  /** OpsGenie v2 alerts sink (opsgenie.clj:53-66): create posts the
    * body to /v2/alerts with the GenieKey header; close posts to
    * /v2/alerts/<alias>/close?identifierType=alias. */
  def opsgenie(apiKey: String, close: Boolean = false,
      post: (String, Map[String, String], String) => Unit)
      : Sinks.EventSink = {
    val headers = Map("Authorization" -> s"GenieKey $apiKey")
    Sinks.RenderSink(
      _.select(opsgenieBody.as("body"))
        .select(col("body"), get_json_object(col("body"), "$.alias")),
      Sinks.eachRow { r =>
        if (close) post(
          s"https://api.opsgenie.com/v2/alerts/${r.getString(1)}" +
            "/close?identifierType=alias",
          headers, """{"user":"Riemann"}""")
        else post("https://api.opsgenie.com/v2/alerts", headers,
          r.getString(0))
      })
  }

  // ---------------------------------------------------------------- Slack

  /** slack-escape (slack.clj:8-11): &, <, > to HTML entities — & first
    * so already-escaped entities aren't double-escaped. */
  private def slackEscape(c: Column) =
    regexp_replace(regexp_replace(regexp_replace(
      c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** Slack incoming-webhook message body (slack.clj:25-39
    * default-formatter + the :username/:channel/:icon merge at :71):
    * one attachment, fallback line + a "Riemann Event" field; nil
    * fields render "-", tags render as the Clojure vector literal
    * (`["a" "b"]`). Pure codegen'd columns under one to_json. */
  def slackMessage(username: String, channel: String,
      icon: String): Column = {
    val tagsVec = concat(lit("["), array_join(transform(
      coalesce(col("tags"), array().cast("array<string>")),
      t => concat(lit("\""), t, lit("\""))), " "), lit("]"))
    val fallback = slackEscape(concat(
      lit("*Host:* "), orDash(col("host")),
      lit(" *Service:* "), orDash(col("service")),
      lit(" *State:* "), orDash(col("state")),
      lit(" *Description:* "), orDash(col("description")),
      lit(" *Metric:* "), orDash(col("metric"))))
    val fieldValue = slackEscape(concat(
      lit("Host:   "), orDash(col("host")), lit("\n"),
      lit("Service:   "), orDash(col("service")), lit("\n"),
      lit("State:   "), orDash(col("state")), lit("\n"),
      lit("Description:   "), orDash(col("description")), lit("\n"),
      lit("Metric:   "), orDash(col("metric")), lit("\n"),
      lit("Tags:   "), tagsVec, lit("\n")))
    to_json(struct(
      lit(username).as("username"),
      lit(channel).as("channel"),
      lit(icon).as("icon_emoji"),
      array(struct(
        fallback.as("fallback"),
        array(struct(
          lit("Riemann Event").as("title"),
          fieldValue.as("value"),
          lit(true).as("short"))).as("fields"))).as("attachments")))
  }

  /** Slack sink (slack.clj:71-120): each event posted as one
    * incoming-webhook message through the injected transport. */
  def slack(username: String, channel: String, icon: String,
      post: String => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.select(slackMessage(username, channel, icon)),
      Sinks.eachRow(r => post(r.getString(0))))

  // ------------------------------------------------------------ PagerDuty

  /** PagerDuty v2 events-API body (pagerduty.clj:39-63
    * request-body-v2/format-event-v2): summary "host - service is
    * state (metric)" with Clojure's nil→"" string semantics, source =
    * host, severity = state, dedup_key from the event's `dedup-key`
    * custom attribute when present. Reproduced quirk: the reference
    * feeds the event's UNIX SECONDS to coerce/from-long, which reads
    * MILLIS — timestamps render as 1970-era ISO8601; kept bit-faithful
    * rather than silently corrected. */
  def pagerdutyV2Body(routingKey: String, action: String): Column = {
    val summary = concat(
      orEmpty(col("host")), lit(" - "), orEmpty(col("service")),
      lit(" is "), orEmpty(col("state")),
      lit(" ("), orEmpty(col("metric")), lit(")"))
    val payload = struct(
      summary.as("summary"),
      col("host").as("source"),
      col("state").as("severity"),
      date_format(timestamp_millis(col("time_s")),
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("timestamp"),
      to_json(struct(col("host"), col("service"), col("state"),
        col("metric"), col("time_s"))).as("custom_details"))
    to_json(struct(
      lit(routingKey).as("routing_key"),
      lit(action).as("event_action"),
      payload.as("payload"),
      element_at(coalesce(col("attributes"),
        map().cast("map<string,string>")), "dedup-key").as("dedup_key")))
  }

  /** PagerDuty v1 body (pagerduty.clj:29-37, 65-72): incident key
    * "host service", description "host service is state (metric)". */
  def pagerdutyV1Body(serviceKey: String, eventType: String): Column =
    to_json(struct(
      lit(serviceKey).as("service_key"),
      lit(eventType).as("event_type"),
      concat(orEmpty(col("host")), lit(" "), orEmpty(col("service")))
        .as("incident_key"),
      concat(orEmpty(col("host")), lit(" "), orEmpty(col("service")),
        lit(" is "), orEmpty(col("state")),
        lit(" ("), orEmpty(col("metric")), lit(")")).as("description"),
      to_json(struct(col("host"), col("service"), col("state"),
        col("metric"), col("time_s"))).as("details")))

  /** PagerDuty adapter (pagerduty.clj:91-140 `pagerduty`): the
    * reference returns {:trigger :acknowledge :resolve} closures; here
    * each is a sink — compose with `changed-state` + `where` exactly
    * like the reference example. `v2 = false` selects the v1 API. */
  def pagerduty(routingKey: String, action: String,
      post: String => Unit, v2: Boolean = true): Sinks.EventSink =
    Sinks.RenderSink(_.select(
        if (v2) pagerdutyV2Body(routingKey, action)
        else pagerdutyV1Body(routingKey, action)),
      Sinks.eachRow(r => post(r.getString(0))))

  // ------------------------------------------------------------ VictorOps

  /** victorops.clj:21-34 format-event: message_type INFO/WARNING/
    * CRITICAL/ACKNOWLEDGEMENT/RECOVERY, entity "host/service", state
    * message "host service is state (metric)". */
  def victoropsBody(messageType: String): Column = Sinks.cheshireJson(struct(
    lit(messageType).as("message_type"),
    concat_ws("/", orEmpty(col("host")), orEmpty(col("service")))
      .as("entity_id"),
    col("time_s").as("timestamp"),
    col("time_s").as("state_start_time"),
    concat(orEmpty(col("host")), lit(" "), orEmpty(col("service")),
      lit(" is "), orEmpty(col("state")),
      lit(" ("), orEmpty(col("metric")), lit(")")).as("state_message"),
    lit(false).as("entity_is_host"),
    lit("riemann").as("monitoring_tool")))

  /** VictorOps generic-integration sink (victorops.clj:36-55): the
    * adapter's five message types are one sink each; URL =
    * endpoint/api-key/routing-key. */
  def victorOps(apiKey: String, routingKey: String,
      messageType: String, post: (String, String) => Unit)
      : Sinks.EventSink = {
    val url = "https://alert.victorops.com/integrations/generic/" +
      s"20131114/alert/$apiKey/$routingKey"
    Sinks.RenderSink(_.select(victoropsBody(messageType)),
      Sinks.eachRow(r => post(url, r.getString(0))))
  }
}
