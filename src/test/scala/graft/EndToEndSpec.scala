package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.LineProtocols
import graft.streaming.{StreamingIndex, WireEvent}

/** Full-topology integration: the reference's primary deployment shape
  * (SURVEY §3.1-3.2) wired end to end — a graphite line transport
  * feeding the streaming index, whose snapshot answers query-language
  * searches. */
class EndToEndSpec extends SparkSpec {

  test("graphite lines -> decode -> streaming index -> query search") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val lines = MemoryStream[String]
    // transport -> decoder -> riemann event shape -> keyed index state
    val decoded = WireEvent.from(LineProtocols.decodeGraphite(
      lines.toDF().withColumnRenamed("value", "line"))
      .select(
        coalesce(element_at(col("attributes"), "host"), lit("unknown"))
          .as("host"),
        col("service"),
        lit("ok").as("state"),
        col("metric"),
        to_timestamp(col("time_s")).as("time"),
        lit(60.0).as("ttl")))
    val q = StreamingIndex(decoded)
      .writeStream.format("memory").queryName("e2e").outputMode("append")
      .start()
    try {
      lines.addData(
        "cpu.load;host=web01 0.7 1706000000",
        "cpu.load;host=web02 0.9 1706000010",
        "mem.used;host=web01 1234 1706000020",
        "garbage line that should vanish 1 2 3")
      q.processAllAvailable()
      lines.addData("cpu.load;host=web02 0.4 1706000100")
      q.processAllAvailable()

      // batch index snapshot over everything the stream emitted, then a
      // query-language search against it — the §3.2 "SQL path"
      val emitted = spark.table("e2e")
        .withColumn("time_s", unix_timestamp(col("time")))
        .withColumn("event_id", col("time_s")) // deterministic tiebreak
        .withColumn("tags", array(col("service")))
      val snap = graft.operators.Index.snapshot(emitted)
      assert(snap.count() == 3) // (web01,cpu), (web02,cpu), (web01,mem)

      val hot = graft.operators.Index.search(snap,
        """service =~ "cpu%" and metric > 0.5""")
      // web02's latest cpu.load is 0.4 — only web01 still matches
      assert(hot.select("host").collect().map(_.getString(0)).toSeq ==
        Seq("web01"))
    } finally q.stop()
  }
}
