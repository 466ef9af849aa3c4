package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The metric-protocol sinks — InfluxDB v1/v2, Prometheus Pushgateway,
  * OpenTSDB, KairosDB, Datadog, Librato. Each is the reference's wire
  * encoder re-expressed as pure codegen'd columns (shared by the sink
  * and its oracle gate) and a factory over [[Sinks.RenderSink]] with the
  * network transport injected. Split out of Sinks.scala along the
  * [[Alerting]]/[[Forwarders]] precedent. */
object Metrics {

  /** The guard most metric protocols share: a datapoint needs a value
    * and a name. */
  private def hasMetricAndService: Column =
    col("metric").isNotNull && col("service").isNotNull

  /** InfluxDB line-protocol point for one event —
    * `measurement,host=<host> value=<metric> <time_ns>` with
    * line-protocol escaping (measurement escapes commas/spaces; tag
    * values also equals). Pure codegen'd column, shared by the sink
    * and the oracle gate. */
  def influxLine: Column = {
    val meas = regexp_replace(col("service"), "([, ])", "\\\\$1")
    val hostTag = regexp_replace(col("host"), "([,= ])", "\\\\$1")
    concat(
      meas, lit(",host="), hostTag,
      lit(" value="), col("metric").cast("double").cast("string"),
      lit(" "), (col("time_s").cast("long") * 1000000000L).cast("string"))
  }

  /** InfluxDB sink (reference src/riemann/influxdb.clj:135-231): each
    * event becomes one line-protocol point via [[influxLine]] —
    * formatted distributed and handed to the injected HTTP transport
    * per partition (the batched `/write` POST). Events without a
    * metric are dropped (a point needs ≥1 field). */
  def influxDb(transport: Iterator[String] => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.filter(col("metric").isNotNull).select(influxLine),
      Sinks.lines(transport))

  /** The user-facing default, matching influxdb.clj:135-231's v1
    * connect defaults (port 8086, db "riemann"): each partition's
    * points POST as one line-protocol body to `/write?db=…` through
    * the bounded pooled HTTP transport (claim-timeout and retry
    * semantics from pool.clj; see [[Pool.httpPostTransport]]). */
  def influxDb(host: String, port: Int = 8086, db: String = "riemann",
      poolSize: Int = 4, claimTimeoutMs: Long = 100): Sinks.EventSink =
    influxDb(Pool.httpPostTransport(
      s"http://$host:$port/write?db=$db", size = poolSize,
      claimTimeoutMs = claimTimeoutMs))

  /** InfluxDB v2 write options (reference src/riemann/influxdb2.clj:55-63
    * default-opts): org/bucket/token replace v1's db/user/password, and
    * the write endpoint is `/api/v2/write` with a `Token` auth header. */
  case class Influx2Config(
      organization: String = "riemann", bucket: String = "riemann",
      scheme: String = "http", host: String = "localhost", port: Int = 8086,
      token: String = "riemann", precision: String = "s") {
    require(Influx2Config.Precisions.contains(precision),
      s"precision must be one of ${Influx2Config.Precisions.keys}")
    def url: String =
      s"$scheme://$host:$port/api/v2/write?org=$organization" +
        s"&bucket=$bucket&precision=$precision"
    def headers: Map[String, String] = Map(
      "Authorization" -> s"Token $token",
      "Content-Type" -> "text/plain; charset=utf-8")
  }
  object Influx2Config {
    /** precision → seconds multiplier (influxdb2.clj:23-30
      * convert-time; :seconds/:milliseconds/:microseconds/:nanoseconds
      * become the API's s/ms/us/ns). */
    val Precisions: Map[String, Long] = Map(
      "s" -> 1L, "ms" -> 1000L, "us" -> 1000000L, "ns" -> 1000000000L)
  }

  /** One v2 measurement point (influxdb2.clj:32-40 event->point):
    * measurement = service, host tag, `value=<metric>` field, time
    * scaled to the configured precision. Same line-protocol escaping
    * as v1; a null host renders as an empty tag value, which the v2
    * client then omits — reproduced by dropping the tag. */
  def influx2Line(precision: String): Column = {
    val mult = Influx2Config.Precisions(precision)
    val meas = regexp_replace(col("service"), "([, ])", "\\\\$1")
    val hostTag = when(col("host").isNotNull && col("host") =!= "",
      concat(lit(",host="),
        regexp_replace(col("host"), "([,= ])", "\\\\$1")))
      .otherwise(lit(""))
    concat(
      meas, hostTag,
      lit(" value="), col("metric").cast("double").cast("string"),
      lit(" "), (col("time_s").cast("long") * mult).cast("string"))
  }

  /** InfluxDB v2 sink (influxdb2.clj:66-120 `influxdb2`): points
    * formatted distributed via [[influx2Line]], each partition POSTed
    * as one newline-joined body to the v2 write URL with the token
    * header — the WriteApi.writePoints batch. Metric-less events drop
    * (a point needs its value field). */
  def influx2(cfg: Influx2Config,
      post: (String, Map[String, String], String) => Unit)
      : Sinks.EventSink = {
    val (url, headers) = (cfg.url, cfg.headers)
    Sinks.RenderSink(
      _.filter(hasMetricAndService).select(influx2Line(cfg.precision)),
      Sinks.joined("", "\n", "")(post(url, headers, _)))
  }

  /** Prometheus Pushgateway datapoint for one event (reference
    * src/riemann/prometheus.clj:13-48): `name{labels} value` — the
    * metric name is the service with disallowed chars collapsed to
    * single underscores; labels are host, state, and the custom
    * attributes (null-valued labels dropped, keys sanitized like the
    * name, values raw); the value renders as a FLOAT (the reference's
    * `(float metric)`). Label order is sorted by key — the reference
    * inherits nondeterministic map order; sorted is the deterministic
    * distributed reading. Pure codegen'd column. */
  def prometheusLine: Column = {
    def sanitize(c: Column) =
      regexp_replace(regexp_replace(c, "[^a-zA-Z0-9_]", "_"), "_{2,}", "_")
    val fixed = array(
      when(col("host").isNotNull, concat(lit("host="), col("host"))),
      when(col("state").isNotNull, concat(lit("state="), col("state"))))
    val attrLabels = expr(
      "transform(sort_array(map_entries(coalesce(attributes, " +
        "cast(map() as map<string,string>)))), " +
        "e -> concat(regexp_replace(regexp_replace(e.key, " +
        "'[^a-zA-Z0-9_]', '_'), '_{2,}', '_'), '=', e.value))")
    val labels = array_join(
      sort_array(filter(concat(fixed, attrLabels), c => c.isNotNull)), ",")
    concat(sanitize(col("service")), lit("{"), labels, lit("} "),
      col("metric").cast("float").cast("string"))
  }

  /** Prometheus Pushgateway sink (prometheus.clj:50-120): datapoints
    * formatted distributed via [[prometheusLine]], handed per partition
    * to the injected POST transport. Events without metric or service
    * are dropped (generate-datapoint's guard). */
  def prometheus(transport: Iterator[String] => Unit): Sinks.EventSink =
    Sinks.RenderSink(
      _.filter(hasMetricAndService).select(concat(prometheusLine, lit("\n"))),
      Sinks.lines(transport))

  /** OpenTSDB telnet put line for one event (reference
    * src/riemann/opentsdb.clj:38-110): `put <dotted-service> <time>
    * <float-metric> host=<host>` — the service's spaces become dots
    * (opentsdb-metric-name), the default tag map is just the host
    * (opentsdb-tags; dropped when null), the value renders as a FLOAT.
    * The inverse of LineProtocols.decodeOpenTsdb's put parsing. */
  def opentsdbLine: Column =
    concat_ws(" ",
      lit("put"),
      array_join(split(col("service"), " "), "."),
      col("time_s").cast("long").cast("string"),
      col("metric").cast("float").cast("string"),
      when(col("host").isNotNull, concat(lit("host="), col("host"))))

  /** OpenTSDB sink (opentsdb.clj:52-110): put lines formatted
    * distributed, handed per partition to the injected telnet
    * transport. Events without metric or service are dropped (the
    * reference's when-guards). */
  def openTsdb(transport: Iterator[String] => Unit): Sinks.EventSink =
    Sinks.RenderSink(
      _.filter(hasMetricAndService).select(concat(opentsdbLine, lit("\n"))),
      Sinks.lines(transport))

  /** KairosDB telnet metric for one event (reference
    * src/riemann/kairosdb.clj:25-36 metric->telnet + :153-158
    * make-metric): like OpenTSDB's put line but with a MILLISECOND
    * timestamp — `put <dotted-service> <time_ms> <float-metric>
    * host=<host>`. */
  def kairosdbLine: Column =
    concat_ws(" ",
      lit("put"),
      array_join(split(col("service"), " "), "."),
      (col("time_s").cast("long") * 1000L).cast("string"),
      col("metric").cast("float").cast("string"),
      when(col("host").isNotNull, concat(lit("host="), col("host"))))

  /** KairosDB sink (kairosdb.clj:88-170): telnet metrics formatted
    * distributed, handed per partition to the injected transport.
    * Events without metric or service drop (make-metric's guards). */
  def kairosDb(transport: Iterator[String] => Unit): Sinks.EventSink =
    Sinks.RenderSink(
      _.filter(hasMetricAndService).select(concat(kairosdbLine, lit("\n"))),
      Sinks.lines(transport))

  /** Datadog series entry for one event (reference
    * src/riemann/datadog.clj:9-33 generate-event): `{"metric":
    * <dotted service>, "type": "gauge", "host": ..., "tags": [...],
    * "points": [[time, metric]]}`. Hand-built JSON (not to_json) so a
    * heterogeneous [long, double] point renders like the reference's
    * and the DuckDB oracle reproduces every byte; strings escape
    * backslash and quote (control chars assumed absent from
    * service/host — document, don't silently corrupt). */
  def datadogEvent: Column = {
    def esc(c: Column) =
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    val name = array_join(split(col("service"), " "), ".")
    val hostJson = when(col("host").isNull, lit("null"))
      .otherwise(concat(lit("\""), esc(col("host")), lit("\"")))
    val tagsJson = when(col("tags").isNull, lit("null"))
      .when(size(col("tags")) === 0, lit("[]"))
      .otherwise(concat(lit("[\""),
        array_join(transform(col("tags"), t => esc(t)), "\",\""), lit("\"]")))
    concat(
      lit("{\"metric\":\""), esc(name),
      lit("\",\"type\":\"gauge\",\"host\":"), hostJson,
      lit(",\"tags\":"), tagsJson,
      lit(",\"points\":[["), col("time_s").cast("long").cast("string"),
      lit(","), col("metric").cast("string"), lit("]]}"))
  }

  /** Datadog sink (datadog.clj:21-36 post-datapoint): the batch's
    * events render distributed via [[datadogEvent]]; each partition's
    * entries are joined into one `{"series": [...]}` POST body for the
    * injected HTTP transport (the reference recommends batching for
    * exactly this reason). */
  def datadog(transport: String => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.filter(hasMetricAndService).select(datadogEvent),
      Sinks.joined("""{"series":[""", ",", "]}")(transport))

  /** Librato safe-name (reference src/riemann/librato.clj:9-17):
    * spaces become periods, only `A-Za-z0-9.:-_` survive, cut to 255
    * chars. */
  def libratoSafeName(c: Column): Column =
    substring(regexp_replace(regexp_replace(c, " ", "."),
      "[^-.:_A-Za-z0-9]", ""), 1, 255)

  /** Librato gauge for one event (librato.clj:19-27 event->gauge):
    * `{"name": safe(service), "source": safe(host), "value": metric,
    * "measure_time": time}` — JSON hand-built like [[datadogEvent]] so
    * the number rendering is reproducible. Events without a metric are
    * rejected by the reference (error log) — callers filter. */
  def libratoGauge: Column = {
    val sourceJson = when(col("host").isNull, lit("null"))
      .otherwise(concat(lit("\""), libratoSafeName(col("host")), lit("\"")))
    concat(
      lit("{\"name\":\""), libratoSafeName(col("service")),
      lit("\",\"source\":"), sourceJson,
      lit(",\"value\":"), col("metric").cast("string"),
      lit(",\"measure_time\":"), col("time_s").cast("long").cast("string"),
      lit("}"))
  }

  /** Librato sink (librato.clj:44-120 librato-metrics :gauge): each
    * partition's gauges collate into one `{"gauges":[...]}` POST for
    * the injected client. */
  def librato(post: String => Unit): Sinks.EventSink =
    Sinks.RenderSink(_.filter(col("metric").isNotNull).select(libratoGauge),
      Sinks.joined("""{"gauges":[""", ",", "]}")(post))
}
