package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Notification and log-shipping sinks (reference `src/riemann/
  * pushover.clj`, `twilio.clj`, `hipchat.clj`, `mailgun.clj`,
  * `logstash.clj`, `logentries.clj`, `keenio.clj`): payload formatting
  * as codegen'd columns and a factory over [[Sinks.RenderSink]] (or
  * [[Email.EmailSink]]) per integration, transports injected — split out of
  * [[Forwarders]] along the [[Alerting]]/[[Metrics]] precedent. */
object Notifiers {

  private def orEmpty(c: Column) = coalesce(c.cast("string"), lit(""))

  // -------------------------------------------------------------- Pushover

  /** pushover.clj:15-35: state → priority (-2..2, default -1), title
    * "host service", message "host service is state (metric)". */
  def pushoverPriority: Column =
    when(col("state").isin("ok", "error"), 0)
      .when(col("state") === "info", -2)
      .when(col("state") === "warning", -1)
      .when(col("state") === "critical", 1)
      .when(col("state") === "emergency", 2)
      .otherwise(-1)

  def pushoverTitle: Column =
    concat(orEmpty(col("host")), lit(" "), orEmpty(col("service")))

  def pushoverMessage: Column =
    concat(orEmpty(col("host")), lit(" "), orEmpty(col("service")),
      lit(" is "), orEmpty(col("state")), lit(" ("),
      orEmpty(col("metric")), lit(")"))

  def pushover(token: String, user: String,
      post: Map[String, String] => Unit): Sinks.EventSink =
    Sinks.RenderSink(
      _.select(
        pushoverTitle.as("title"),
        pushoverMessage.as("message"),
        pushoverPriority.cast("string").as("priority"),
        orEmpty(col("time_s")).as("timestamp")),
      Sinks.eachRow(r => post(Map(
        "token" -> token, "user" -> user,
        "title" -> r.getString(0), "message" -> r.getString(1),
        "priority" -> r.getString(2),
        // the reference's defaults for emergency re-delivery
        "expire" -> "2400", "retry" -> "600",
        "timestamp" -> r.getString(3)))))

  // -------------------------------------------------------------- Logstash

  /** logstash.clj:121-127 wire JSON: the event with `source` set to
    * the host — shared by the sink and `q_logstash_line`. */
  def logstashLine: Column =
    Sinks.cheshireJson(struct(col("host"), col("service"), col("state"),
      col("metric"), col("time_s"), col("host").as("source")))

  /** One "\n"-terminated line per event over the injected TCP/TLS/UDP
    * client. */
  def logstash(sendLine: String => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.select(logstashLine),
      Sinks.eachRow(r => sendLine(r.getString(0) + "\n")))

  // ------------------------------------------------------------ Logentries

  /** logentries.clj:11-21 event-to-le-format: "description, k='v'
    * k2='v2'…" (the pairs each lead with a space), or just the pairs
    * when there is no description; the token client appends
    * " <token>\n". Divergence (documented): the reference iterates the
    * event map's key order; here fields render in the canonical
    * host/service/state/metric/time order — deterministic and
    * engine-independent. */
  def logentriesLine: Column = {
    val pairs = concat(
      lit(" host='"), orEmpty(col("host")),
      lit("' service='"), orEmpty(col("service")),
      lit("' state='"), orEmpty(col("state")),
      lit("' metric='"), orEmpty(col("metric")),
      lit("' time='"), orEmpty(col("time_s")), lit("'"))
    when(col("description").isNotNull,
      concat(col("description"), lit(","), pairs)).otherwise(pairs)
  }

  def logentries(token: String, sendLine: String => Unit)
      : Sinks.EventSink =
    Sinks.RenderSink(_.select(logentriesLine),
      Sinks.eachRow(r => sendLine(r.getString(0) + " " + token + "\n")))

  // --------------------------------------------------------------- HipChat

  /** hipchat.clj:7-31: state → card color (ok green, critical/error
    * red, else yellow) and the five-line message block. */
  def hipchatColor: Column =
    when(col("state") === "ok", "green")
      .when(col("state").isin("critical", "error"), "red")
      .otherwise("yellow")

  def hipchatMessage: Column = concat(
    lit("Host: "), orEmpty(col("host")),
    lit(" \nService: "), orEmpty(col("service")),
    lit(" \nState: "), orEmpty(col("state")),
    lit(" \nMetric: "), orEmpty(col("metric")),
    lit(" \nDescription: "), orEmpty(col("description")))

  /** hipchat.clj:33-48: one room notification per partition (the
    * events-sequence form joins blocks with blank lines); color is the
    * first event's state color, like the reference's
    * `(:state (first ev))` fallback. */
  def hipchat(server: String, token: String, room: String,
      notify: Boolean, post: (String, Map[String, String]) => Unit)
      : Sinks.EventSink = {
    val url = s"https://$server/v2/room/$room/notification?auth_token=$token"
    Sinks.RenderSink(_.select(hipchatMessage, hipchatColor),
      rows => {
        val rs = rows.toSeq
        if (rs.nonEmpty) post(url, Map(
          "color" -> rs.head.getString(1),
          "from" -> "riemann",
          "message_format" -> "text",
          "notify" -> notify.toString,
          "message" -> rs.map(_.getString(0)).mkString("\n\n")))
      })
  }

  // ---------------------------------------------------------------- Twilio

  /** twilio.clj:17-48: one SMS per batch through the standard
    * common.clj body ([[Email.bodyAgg]]); form params To/From/Body,
    * account-sid basic auth, Messages.json endpoint. */
  def twilio(account: String, serviceKey: String, from: String,
      to: String, post: (String, String, Map[String, String]) => Unit)
      : Sinks.EventSink =
    new Email.EmailSink((_, body) =>
      post(s"https://api.twilio.com/2010-04-01/Accounts/$account/Messages.json",
        s"$account:$serviceKey",
        Map("To" -> to, "From" -> from, "Body" -> body)))

  // ---------------------------------------------------------------- KeenIO

  /** keenio.clj:9-35 event body — shared by the sink and
    * `q_keenio_body`. */
  def keenioBody: Column =
    Sinks.cheshireJson(struct(col("host"), col("service"), col("state"),
      col("metric"), col("time_s")))

  /** The full event as JSON to
    * /3.0/projects/<pid>/events/<collection>?api_key=<key>. */
  def keenIo(collection: String, projectId: String, writeKey: String,
      post: (String, String) => Unit): Sinks.EventSink = {
    val url = "https://api.keen.io/3.0/projects/" + projectId +
      s"/events/$collection?api_key=$writeKey"
    Sinks.RenderSink(_.select(keenioBody),
      Sinks.eachRow(r => post(url, r.getString(0))))
  }

  // --------------------------------------------------------------- Mailgun

  /** mailgun.clj:28-38 mailgun-event: the standard riemann subject and
    * body (common.clj — [[Email.subjectAgg]]/[[Email.bodyAgg]]) posted
    * as form params to /v2/<sandbox>/messages with api-key basic auth.
    * One message per batch, like the mailer. */
  def mailgun(sandbox: String, serviceKey: String, from: String,
      to: String, post: (String, String, Map[String, String]) => Unit)
      : Sinks.EventSink =
    new Email.EmailSink((subj, body) =>
      post(s"https://api.mailgun.net/v2/$sandbox/messages",
        s"api:$serviceKey",
        Map("from" -> from, "to" -> to, "subject" -> subj, "text" -> body)))
}
