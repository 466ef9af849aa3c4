package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Metric/check forwarders (reference `src/riemann/cloudwatch.clj`,
  * `stackdriver.clj`, `zabbix.clj`, `nagios.clj`, `xymon.clj`,
  * `blueflood.clj`, `shinken.clj`, `druid.clj`, `boundary.clj`,
  * `netuitive.clj`): payload formatting as codegen'd columns and a
  * factory over [[Sinks.RenderSink]] per integration, transports
  * injected. The Zabbix sender frame is implemented bit-exactly (it is
  * a real wire protocol, not an HTTP body). */
object Forwarders {

  private def orEmpty(c: Column) = coalesce(c.cast("string"), lit(""))

  // ------------------------------------------------------------ CloudWatch

  /** cloudwatch.clj:8-15 generate-datapoint: metric-name = service,
    * value = metric, one Host dimension. The reference stamps the
    * client's wall clock (`DateTime.`); the timestamp is left to the
    * injected client here for the same reason. Metric-less or
    * service-less events drop (the when-guards, :45-46). */
  def cloudwatchDatapoint: Column = Sinks.cheshireJson(struct(
    col("service").as("metric_name"),
    col("metric").as("value"),
    array(struct(lit("Host").as("name"), col("host").as("value")))
      .as("dimensions")))

  /** cloudwatch.clj:17-50: put-metric-data under a namespace; the AWS
    * client is injected as (namespace, datapointJson). */
  def cloudwatch(namespace: String,
      put: (String, String) => Unit): Sinks.EventSink =
    Sinks.RenderSink(
      _.filter(col("metric").isNotNull && col("service").isNotNull)
        .select(cloudwatchDatapoint),
      Sinks.eachRow(r => put(namespace, r.getString(0))))

  // ----------------------------------------------------------- Stackdriver

  /** stackdriver.clj:10-24: name = service with whitespace runs
    * collapsed to '.', collected_at = event seconds; metric-less
    * events removed. */
  def stackdriverPoint: Column = Sinks.cheshireJson(struct(
    regexp_replace(col("service"), "\\s+", ".").as("name"),
    col("metric").as("value"),
    col("time_s").as("collected_at")))

  /** stackdriver.clj:26-46: one gateway envelope per partition.
    * Divergence (documented): the reference's envelope timestamp is a
    * monotonically-bumped wall clock; here it is the batch's max
    * event time — deterministic under replay. */
  def stackdriver(apiKey: String,
      post: (String, Map[String, String], String) => Unit)
      : Sinks.EventSink =
    Sinks.RenderSink(
      _.filter(col("metric").isNotNull)
        .select(stackdriverPoint, col("time_s")),
      rows => {
        var maxT = 0L
        val ps = rows.map { r =>
          maxT = math.max(maxT, r.getLong(1)); r.getString(0)
        }.mkString(",")
        if (ps.nonEmpty) post(
          "https://custom-gateway.stackdriver.com/v1/custom",
          Map("x-stackdriver-apikey" -> apiKey),
          s"""{"timestamp":$maxT,"proto_version":1,"data":[$ps]}""")
      })

  // ---------------------------------------------------------------- Zabbix

  /** zabbix.clj:56-61 make-datapoint: host, key = service, value =
    * str(metric), clock = event seconds. */
  def zabbixDatapoint: Column = Sinks.cheshireJson(struct(
    col("host"),
    col("service").as("key"),
    orEmpty(col("metric")).as("value"),
    col("time_s").as("clock")))

  /** The Zabbix sender protocol frame (zabbix.clj:30-48 make-frame):
    * "ZBXD\1" + little-endian int64 body length + the JSON request
    * `{"request":"sender data","data":[...]}`. */
  def zabbixFrame(datapointsJson: String): Array[Byte] = {
    val body = (s"""{"request":"sender data","data":[$datapointsJson]}""")
      .getBytes("UTF-8")
    val buf = java.nio.ByteBuffer.allocate(5 + 8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("ZBXD".getBytes("US-ASCII")).put(1.toByte)
      .putLong(body.length.toLong).put(body)
    buf.array()
  }

  /** zabbix.clj:63-99: each partition's datapoints go out as one
    * sender frame over the injected socket transport. */
  def zabbix(send: Array[Byte] => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.select(zabbixDatapoint),
      Sinks.joined("", ",", "")(dps => send(zabbixFrame(dps))))

  // ---------------------------------------------------------------- Nagios

  /** nagios.clj:10-18 state->nagios-state: ok/warning pass, error
    * folds into critical, anything else (incl. null) is unknown. */
  def nagiosState: Column =
    when(col("state").isin("ok", "warning", "critical"), col("state"))
      .when(col("state") === "error", "critical")
      .otherwise("unknown")

  /** The four NSCA message columns (nils render "", the reference's
    * `str`), shared by the sink and the `q_nagios_line` oracle gate. */
  def nagiosFields: Seq[Column] = Seq(
    orEmpty(col("host")).as("nhost"),
    nagiosState.as("nstate"),
    orEmpty(col("service")).as("nservice"),
    orEmpty(col("description")).as("ndesc"))

  /** nagios.clj:20-46: one NSCA message per event — (host, state,
    * service, description); the NSCA client (host/port/password/
    * encryption) is injected. */
  def nagios(send: (String, String, String, String) => Unit)
      : Sinks.EventSink =
    Sinks.RenderSink(_.select(nagiosFields: _*),
      Sinks.eachRow(r =>
        send(r.getString(0), r.getString(1), r.getString(2), r.getString(3))))

  // ----------------------------------------------------------------- Xymon

  /** xymon.clj:10-42: status[+ceil(ttl/60)] host(.→,).service(./space→_)
    * state description — defaults "" / "" / unknown / "". */
  def xymonStatus: Column = {
    val host = regexp_replace(coalesce(col("host"), lit("")), "\\.", ",")
    val service = regexp_replace(coalesce(col("service"), lit("")),
      "(\\.| )", "_")
    val lifetime = when(col("ttl").isNotNull,
      concat(lit("+"), ceil(col("ttl") / 60).cast("long").cast("string")))
      .otherwise(lit(""))
    concat(lit("status"), lifetime, lit(" "), host, lit("."), service,
      lit(" "), coalesce(col("state"), lit("unknown")), lit(" "),
      coalesce(col("description"), lit("")), lit("\n"))
  }

  /** xymon.clj:44-70: enable/disable messages (disable uses ttl/60 as
    * the duration); service defaults to "*" here, unlike status. */
  def xymonEnable: Column = concat(lit("enable "),
    regexp_replace(coalesce(col("host"), lit("")), "\\.", ","), lit("."),
    regexp_replace(coalesce(col("service"), lit("*")), "(\\.| )", "_"))

  def xymonDisable: Column = concat(lit("disable "),
    regexp_replace(coalesce(col("host"), lit("")), "\\.", ","), lit("."),
    regexp_replace(coalesce(col("service"), lit("*")), "(\\.| )", "_"),
    lit(" "), ceil(col("ttl") / 60).cast("long").cast("string"), lit(" "),
    coalesce(col("description"), lit("")))

  /** xymon.clj:82-135: each partition's status messages ship as one
    * `combo\n` message (messages blank-line separated, trailing blank
    * line), the reference's batching for high event volumes. */
  def xymon(send: String => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.select(xymonStatus),
      Sinks.joined("combo\n", "\n\n", "\n\n")(send))

  // ------------------------------------------------------------- Blueflood

  /** blueflood.clj:20-24 prep-event-for-bf: collectionTime = seconds,
    * ttlInSeconds defaulting to 30 days, metricName "host.service";
    * null-metric events drop (:79 the `where metric` guard). Compose
    * behind `batch n dt` exactly like the reference does. */
  def bluefloodPoint: Column = Sinks.cheshireJson(struct(
    col("time_s").as("collectionTime"),
    coalesce(col("ttl").cast("long"), lit(2592000L)).as("ttlInSeconds"),
    col("metric").as("metricValue"),
    concat_ws(".", col("host"), col("service")).as("metricName")))

  def blueflood(host: String, port: Int, tenantId: String,
      post: (String, String) => Unit): Sinks.EventSink = {
    val url = s"http://$host:$port/v2.0/$tenantId/ingest"
    Sinks.RenderSink(_.filter(col("metric").isNotNull).select(bluefloodPoint),
      Sinks.joined("[", ",", "]")(post(url, _)))
  }

  // --------------------------------------------------------------- Shinken

  /** shinken.clj:13-20: ws-arbiter check result — time_stamp,
    * host_name, service_description, return_code = state, output =
    * metric; one form POST per event with basic auth. */
  /** The five ws-arbiter form columns, shared by the sink and the
    * `q_shinken_form` oracle gate so the renderings cannot drift. */
  def shinkenFields: Seq[Column] = Seq(
    col("time_s").cast("string").as("time_stamp"),
    orEmpty(col("host")).as("host_name"),
    orEmpty(col("service")).as("service_description"),
    orEmpty(col("state")).as("return_code"),
    orEmpty(col("metric")).as("output"))

  def shinken(hostname: String, port: Int, username: String,
      password: String, post: (String, String, Map[String, String]) => Unit)
      : Sinks.EventSink = {
    val url = s"http://$hostname:$port/push_check_result"
    val auth = s"$username:$password"
    Sinks.RenderSink(_.select(shinkenFields: _*),
      Sinks.eachRow(r => post(url, auth, Map(
        "time_stamp" -> r.getString(0), "host_name" -> r.getString(1),
        "service_description" -> r.getString(2),
        "return_code" -> r.getString(3), "output" -> r.getString(4)))))
  }

  // ----------------------------------------------------------------- Druid

  /** druid.clj:22-29 generate-event: full event with value = metric
    * and an ISO8601 timestamp (common.clj unix-to-iso8601); batches
    * post as one JSON array to the Tranquility /v1/post/<dataset>. */
  def druidEvent: Column = Sinks.cheshireJson(struct(
    col("host"), col("service"), col("state"),
    date_format(timestamp_seconds(col("time_s")),
      "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("timestamp"),
    coalesce(col("tags"), array().cast("array<string>")).as("tags"),
    col("description"),
    col("metric").as("value")))

  def druid(host: String, port: Int, dataset: String,
      post: (String, String) => Unit): Sinks.EventSink = {
    val url = s"http://$host:$port/v1/post/$dataset"
    Sinks.RenderSink(_.select(druidEvent),
      Sinks.joined("[", ",", "]")(post(url, _)))
  }

  // -------------------------------------------------------------- Boundary

  /** boundary.clj:17-51 boundarify: spaces → underscores, upcase,
    * strip [^A-Z0-9_], optional upcased org prefix. Empty results are
    * REJECTED (the reference throws) — here the row is dropped and
    * counted, the distributed-safe reading of "can't accept". */
  def boundarify(service: Column, org: Option[String]): Column = {
    val cleaned = regexp_replace(
      upper(regexp_replace(service, "\\s+", "_")), "[^A-Z0-9_]", "")
    // the empty-check is on the service-derived part: the reference
    // throws for (boundarify "!#@" "org") too, org prefix or not
    val prefixed = org.map(o =>
      concat(lit(o.toUpperCase + "_"), cleaned)).getOrElse(cleaned)
    when(cleaned === "", lit("")).otherwise(prefixed)
  }

  /** Render one scalar column as its JSON literal, null-safe: wrap in a
    * single-element array (to_json preserves nulls inside arrays, unlike
    * struct fields under the default ignoreNullFields) and strip the
    * brackets. Strings come back properly JSON-escaped. */
  private def jsonScalar(c: Column): Column = {
    val a = to_json(array(c))
    a.substr(lit(2), length(a) - 2)
  }

  /** boundary.clj:53-105 measurement tuple [host, METRIC_ID, metric,
    * time] — always a 4-tuple with explicit nulls, each element
    * rendered positionally and null-safely — never via key-stripped
    * object JSON, which would drop null fields and misalign the tuple.
    * Assumes a `_mid` column from [[boundarify]]. */
  def boundaryTuple: Column = concat(lit("["),
    jsonScalar(col("host")), lit(","),
    jsonScalar(col("_mid")), lit(","),
    jsonScalar(col("metric")), lit(","),
    jsonScalar(col("time_s")), lit("]"))

  /** boundary.clj:53-105: measurements tuples posted as one JSON array
    * with email:token basic auth. */
  def boundary(email: String, token: String, org: Option[String] = None,
      async: Boolean = false, post: (String, String, String) => Unit)
      : Sinks.EventSink = {
    val path = if (async) "measurementsAsync" else "measurements"
    val url = s"https://premium-api.boundary.com/v1/$path"
    val auth = s"$email:$token"
    Sinks.RenderSink(
      _.withColumn("_mid", boundarify(col("service"), org))
        .filter(col("_mid") =!= "") // the reference's reject-empty rule
        .select(boundaryTuple),
      Sinks.joined("[", ",", "]")(post(url, auth, _)))
  }

  // ------------------------------------------------------------- Netuitive

  /** netuitive.clj:14-51 generate-event: element id "Type:host",
    * metric id = service with spaces → dots, sample timestamp in
    * millis, tags as {name, value: "true"} pairs. */
  def netuitiveElement(typ: String): Column = {
    val metricId = concat_ws(".",
      split(coalesce(col("service"), lit("")), " "))
    Sinks.cheshireJson(struct(
      concat(lit(typ + ":"), orEmpty(col("host"))).as("id"),
      col("host").as("name"),
      lit(typ).as("type"),
      array(struct(metricId.as("id"))).as("metrics"),
      array(struct(metricId.as("metricId"),
        (col("time_s") * 1000).cast("long").as("timestamp"),
        col("metric").as("val"))).as("samples"),
      transform(coalesce(col("tags"), array().cast("array<string>")),
        t => struct(t.as("name"), lit("true").as("value"))).as("tags")))
  }

  def netuitive(apiKey: String, typ: String = "Riemann",
      post: (String, String) => Unit): Sinks.EventSink = {
    val url = s"https://api.app.netuitive.com/ingest/$apiKey"
    Sinks.RenderSink(_.select(netuitiveElement(typ)),
      Sinks.joined("[", ",", "]")(post(url, _)))
  }

}
