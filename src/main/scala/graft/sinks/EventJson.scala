package graft.sinks

import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.core.JsonFactory

import graft.streaming.WireEvent

/** Driver-side JSON rendering of one [[WireEvent]], byte-identical to
  * the Spark relation form the push path uses —
  * `to_json(struct(host, service, state, metric, time, ttl, tags,
  * attributes))` with a UTC session timezone (what [[graft.Main]] sets)
  * — so a ws/sse client sees ONE format whether a line came from the
  * Spark-free index dump or a streamed micro-batch. Parity is pinned
  * by EventPredicateSpec against actual `to_json` output.
  *
  * Uses the same Jackson generator Spark's JacksonGenerator wraps, so
  * string escaping and double rendering agree by construction; the
  * timestamp format is to_json's write default
  * (`yyyy-MM-dd'T'HH:mm:ss.SSSXXX`, offset rendered `Z` at UTC) and
  * null fields are omitted (to_json's default ignoreNullFields): an
  * event without tags or attributes renders the six-field shape, an
  * empty list/map renders `[]`/`{}`. Attribute KEY ORDER inside the
  * object follows map iteration and is unspecified beyond small maps,
  * as with any JSON object. */
object EventJson {

  private val factory = new JsonFactory()
  private val TsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    .withZone(ZoneOffset.UTC)

  def line(e: WireEvent): String = {
    val sw = new java.io.StringWriter(96)
    val g = factory.createGenerator(sw)
    g.writeStartObject()
    if (e.host != null) g.writeStringField("host", e.host)
    if (e.service != null) g.writeStringField("service", e.service)
    if (e.state != null) g.writeStringField("state", e.state)
    e.metric.foreach(m => g.writeNumberField("metric", m))
    if (e.time != null)
      g.writeStringField("time", TsFmt.format(e.time.toInstant))
    e.ttl.foreach(t => g.writeNumberField("ttl", t))
    if (e.tags != null) {
      g.writeArrayFieldStart("tags")
      e.tags.foreach(g.writeString)
      g.writeEndArray()
    }
    if (e.attributes != null) {
      g.writeObjectFieldStart("attributes")
      e.attributes.foreach { case (k, v) =>
        if (v == null) g.writeNullField(k) else g.writeStringField(k, v)
      }
      g.writeEndObject()
    }
    g.writeEndObject()
    g.close()
    sw.toString
  }
}
