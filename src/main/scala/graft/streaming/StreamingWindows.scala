package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Declarative watermark-windowed streaming aggregations — the
  * Spark-native replacement for the reference's `part-time-fast` /
  * `part-time-simple` interval machinery (streams.clj:543-661): the
  * partial-aggregate-then-flush contract is exactly what windowed
  * aggregation + watermark gives for free (SURVEY §4). Windows close
  * (and emit, in append mode) when the watermark passes their end —
  * the late-data drop semantics of fixed-time-window
  * (streams.clj:386-389). */
object StreamingWindows {

  private val D = DecimalType(18, 6)

  /** `rate interval` (streams.clj:841-883), streaming: per service,
    * Σmetric/interval per tumbling event-time window. */
  def rate(events: Dataset[WireEvent], intervalS: Long,
      watermarkDelay: String = "0 seconds"): DataFrame =
    events.withWatermark("time", watermarkDelay)
      .groupBy(col("service"), window(col("time"), s"$intervalS seconds"))
      .agg((sum(col("metric").cast(D)).cast("double") / intervalS).as("rate"),
        count(lit(1)).as("n_events"))
      .select(col("service"), col("window.start").as("window_start"),
        col("rate"), col("n_events"))

  /** `percentiles interval points` (streams.clj:885-898), streaming:
    * nearest-rank percentiles over each closed window's actual metrics
    * (folds.clj:16-49 sorted-sample). */
  def percentiles(events: Dataset[WireEvent], intervalS: Long,
      points: Seq[Double], watermarkDelay: String = "0 seconds"): DataFrame = {
    val bucketed = events.withWatermark("time", watermarkDelay)
      .groupBy(col("service"), window(col("time"), s"$intervalS seconds"))
      .agg(sort_array(collect_list("metric")).as("ms"))
    bucketed
      .select(col("service"), col("window.start").as("window_start"),
        col("ms"), explode(array(points.map(lit): _*)).as("point"))
      .withColumn("idx",
        least(floor(col("point") * size(col("ms"))), size(col("ms")) - 1)
          .cast("int"))
      .select(
        concat(col("service"), lit(" "), col("point").cast("string"))
          .as("service_pt"),
        col("window_start"),
        when(size(col("ms")) > 0, element_at(col("ms"), col("idx") + 1))
          .as("metric"))
  }

  /** `apdex` (streams.clj:2103-2157), streaming: per service and
    * tumbling window, (satisfied + tolerated/2) / total, with the
    * reference's precedence (a satisfied event never also counts as
    * tolerated) and its expired-event drop. */
  def apdex(events: Dataset[WireEvent], intervalS: Long,
      satisfied: org.apache.spark.sql.Column,
      tolerated: org.apache.spark.sql.Column,
      watermarkDelay: String = "0 seconds"): DataFrame =
    events.filter(col("state") =!= "expired" || col("state").isNull)
      .withWatermark("time", watermarkDelay)
      .groupBy(col("service"), window(col("time"), s"$intervalS seconds"))
      .agg(
        sum(when(satisfied, 1L).otherwise(0L)).as("sat"),
        sum(when(!satisfied && tolerated, 1L).otherwise(0L)).as("tol"),
        count(lit(1)).as("total"))
      .select(col("service"), col("window.start").as("window_start"),
        ((col("sat") + col("tol") / lit(2.0)) / col("total")).as("apdex"),
        col("total"))

  /** `instrument` (instrumentation.clj:26-59), streaming: the
    * reference's always-on self-metrics run continuously — per service
    * and tumbling window, one `riemann <service> rate` row (events/s)
    * plus one `riemann <service> latency <q>` row per quantile, the
    * exact relation shape of the batch
    * [[graft.operators.Windows.instrument]]. Latency is nearest-rank
    * over the closed window's samples (instrumentation.clj:59
    * uniform-reservoir holds the window's sample; here the window IS
    * the reservoir); at 100 TB swap the collect_list for
    * percentile_approx as in Windows.instrumentApprox. */
  def instrument(events: Dataset[WireEvent], intervalS: Long,
      latencyNs: org.apache.spark.sql.Column,
      quantiles: Seq[Double] = Seq(0.0, 0.5, 0.95, 0.99, 0.999),
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val b = events.withWatermark("time", watermarkDelay)
      .withColumn("_lat", latencyNs.cast("long"))
      .groupBy(col("service"), window(col("time"), s"$intervalS seconds"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("_lat"))).as("ls"))
      .select(col("service"), col("window.start").as("window_start"),
        col("n"), col("ls"))
    val rateRows = b.select(
      concat(lit("riemann "), col("service"), lit(" rate")).as("service_out"),
      col("window_start"),
      (col("n") / lit(intervalS.toDouble)).as("metric"))
    val latRows = b
      .select(col("service"), col("window_start"), col("ls"),
        explode(array(quantiles.map(lit): _*)).as("q"))
      .withColumn("idx",
        least(floor(col("q") * size(col("ls"))), size(col("ls")) - 1)
          .cast("int"))
      .select(
        concat(lit("riemann "), col("service"), lit(" latency "),
          col("q").cast("string")).as("service_out"),
        col("window_start"),
        when(size(col("ls")) > 0,
          element_at(col("ls"), col("idx") + 1) * lit(1e-6)).as("metric"))
    rateRows.unionByName(latRows)
  }

  /** `fold-interval` (streams.clj:663-681), streaming: apply any
    * aggregate expression (a §2.6b fold over the `metric` column) to
    * each service's tumbling window. */
  def foldInterval(events: Dataset[WireEvent], intervalS: Long,
      fold: org.apache.spark.sql.Column,
      watermarkDelay: String = "0 seconds"): DataFrame =
    events.withWatermark("time", watermarkDelay)
      .groupBy(col("service"), window(col("time"), s"$intervalS seconds"))
      .agg(fold.as("metric"), count(lit(1)).as("n_events"))
      .select(col("service"), col("window.start").as("window_start"),
        col("metric"), col("n_events"))
}
