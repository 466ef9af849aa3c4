package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{array, coalesce, col, lit, map}

/** The one streaming event: riemann's whole event map as flat columns,
  * carried by every streaming step, the served index and the query
  * closure — custom attributes "flow through everything", as the
  * reference's index stores whole events (index.clj:58-126). `time` is
  * the event-time column (watermarkable).
  *
  * `tags` and `attributes` are null when the source frame had no such
  * column: a tagless relation's Catalyst compile resolves `tags` to a
  * null literal (`tags = nil` true, `tagged "x"` false) and `to_json`
  * drops null fields, so an event from a six-column frame answers
  * queries and renders exactly as that frame's rows do. */
case class WireEvent(
    host: String,
    service: String,
    state: String,
    metric: Option[Double],
    time: java.sql.Timestamp,
    ttl: Option[Double],
    tags: Seq[String],
    attributes: Map[String, String])

object WireEvent {
  /** The one frame → events projection: the event columns of `df`, a
    * present `tags`/`attributes` column with null containers read as
    * empty, an absent one as null. */
  def from(df: DataFrame): Dataset[WireEvent] = {
    def has(name: String) = df.columns.contains(name)
    val tags = "array<string>"
    val attrs = "map<string,string>"
    df.select(col("host"), col("service"), col("state"), col("metric"),
        col("time"), col("ttl"),
        (if (has("tags")) coalesce(col("tags"), array().cast(tags))
        else lit(null).cast(tags)).as("tags"),
        (if (has("attributes"))
          coalesce(col("attributes").cast(attrs), map().cast(attrs))
        else lit(null).cast(attrs)).as("attributes"))
      .as[WireEvent](Encoders.product[WireEvent])
  }
}

/** Events of riemann's six core fields: [[WireEvent]]s without tags or
  * attributes. */
object SEvent {
  def apply(host: String, service: String, state: String,
      metric: Option[Double], time: java.sql.Timestamp,
      ttl: Option[Double]): WireEvent =
    WireEvent(host, service, state, metric, time, ttl, null, null)

  /** TOTAL order over every non-key field for same-key latest-wins
    * ties — (time, metric presence, metric, state, ttl presence, ttl).
    * Both index forms ([[StreamingIndex]], and [[IndexStep]] through
    * [[IndexStep.latestWins]]) break ties with THIS key so shuffle
    * arrival order can never decide the winner and the two
    * implementations agree event-for-event: metric
    * None sorts below Some(0.0) instead of conflating with it, and
    * events equal on (time, metric, state) but differing in ttl still
    * land deterministically. State needs the same presence component
    * as the Options: the wire decoder emits null state for events
    * lacking the field, and null must not conflate with "". */
  def totalKey(e: WireEvent)
      : (Long, Boolean, Double, Boolean, String, Boolean, Double) =
    (e.time.getTime, e.metric.isDefined, e.metric.getOrElse(0.0),
      e.state != null, Option(e.state).getOrElse(""),
      e.ttl.isDefined, e.ttl.getOrElse(0.0))
}
