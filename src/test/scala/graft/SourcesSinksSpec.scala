package graft

import org.apache.spark.sql.Row
import graft.sources.LineProtocols
import graft.sinks.Sinks

/** Line-protocol decode golden cases (transport/graphite.clj:37-160,
  * transport/opentsdb.clj:24-145) and the memory/graphite sink harness
  * (streams.clj:1243-1253 append, graphite.clj:116-174). */
class SourcesSinksSpec extends SparkSpec {

  private def lines(ls: String*) = {
    val spark0 = spark
    import spark0.implicits._
    ls.toDF("line")
  }

  test("graphite line decode: service metric ts") {
    val df = LineProtocols.decodeGraphite(lines(
      "foo.bar.baz 12.5 1706000000",
      "svc;dc=east;env=prod 1 1706000001",
      "nanmetric nan 1706000002",
      "garbage with too many fields 1 2",
      "",
      "no_metric"))
    val rows = df.orderBy("time_s")
      .collect().map(r => (r.getAs[String]("service"),
        Option(r.getAs[java.lang.Double]("metric")).map(_.toDouble),
        r.getAs[Long]("time_s"), r.getAs[Map[String, String]]("attributes")))
    assert(rows.length == 3)
    assert(rows(0) == ("foo.bar.baz", Some(12.5), 1706000000L, Map()))
    assert(rows(1) == ("svc", Some(1.0), 1706000001L,
      Map("dc" -> "east", "env" -> "prod")))
    assert(rows(2) == ("nanmetric", None, 1706000002L, Map())) // nan -> nil metric
  }

  test("graphite decode: duplicate tag keys keep the last; bad metrics drop the line") {
    val df = LineProtocols.decodeGraphite(lines(
      "svc;a=1;b=2;a=3 5 1706000000",   // duplicate key a -> last wins
      "svc notanumber 1706000001"))      // unparseable metric -> dropped
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Map[String, String]]("attributes") ==
      Map("a" -> "3", "b" -> "2"))
  }

  test("opentsdb put decode: tags, host hoist, servicetag rename") {
    val df = LineProtocols.decodeOpenTsdb(lines(
      "put sys.cpu.user 1706000000 42.5 host=web01 cpu=0",
      "put sys.mem 1706000001 7 service=api",
      "put bad.metric 1706000002 NaN host=web01",
      "version",
      "put missing.fields 1706000003"))
    val rows = df.orderBy("time_s").collect().map(r =>
      (r.getAs[String]("host"), r.getAs[String]("service"),
        r.getAs[Double]("metric"), r.getAs[String]("description"),
        r.getAs[Map[String, String]]("attributes")))
    assert(rows.length == 2)
    // host tag removed from the service suffix but kept as host column
    assert(rows(0) == ("web01", "sys.cpu.user cpu=0", 42.5, "sys.cpu.user",
      Map("cpu" -> "0")))
    assert(rows(1) == (null, "sys.mem service=api", 7.0, "sys.mem",
      Map("servicetag" -> "api")))
  }

  test("graphite encode is the decoder's inverse shape") {
    val ev = events(E(id = 1, service = "api.lat", metric = 2.5, time = 1706000000L))
    val line = LineProtocols.encodeGraphite(ev).collect().head.getString(0)
    assert(line == "api.lat 2.5 1706000000")
    val back = LineProtocols.decodeGraphite(lines(line)).collect().head
    assert(back.getAs[String]("service") == "api.lat")
    assert(back.getAs[Double]("metric") == 2.5)
  }

  test("memory sink accumulates batches (streams.clj:1243-1253 append)") {
    val sink = new Sinks.MemorySink
    val df = events(E(id = 1, metric = 1.0), E(id = 2, metric = 2.0))
    sink.write(df, 0L)
    sink.write(df, 1L)
    assert(sink.size == 4)
  }

  test("graphite sink formats per partition (graphite.clj:116-174)") {
    GraphiteProbe.seen.clear()
    // transport stub: collects formatted lines into a JVM-static buffer
    // (the closure is serialized to tasks; a static holder survives that)
    val sink = Sinks.graphite(ls => ls.foreach(GraphiteProbe.seen.add))
    sink.write(events(E(id = 1, service = "a", metric = 1.5, time = 10L)), 0L)
    assert(GraphiteProbe.seen.size() == 1 && GraphiteProbe.seen.peek() == "a 1.5 10")
  }
}

object GraphiteProbe {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
