package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.query.{EventPredicate, QueryLanguage}
import graft.sinks.EventJson
import graft.streaming.{SEvent, WireEvent}

/** The serving-path evaluator's contract: the compiled closure must
  * agree with the Catalyst predicate (the oracle) on the same snapshot
  * for randomized queries over randomized events, the pkey shape must
  * short-circuit to a point lookup, and the driver-side JSON renderer
  * must be byte-identical to `to_json` so ws/sse dumps and pushes are
  * one format. */
class EventPredicateSpec extends SparkSpec {

  private def ts(s: Long, ms: Long = 0): Timestamp = new Timestamp(s * 1000 + ms)

  private val rnd = new scala.util.Random(42)

  private def randomEvents(n: Int): Seq[WireEvent] = (1 to n).map { i =>
    SEvent(
      host = rnd.nextInt(5) match {
        case 0 => null
        case 1 => s"${rnd.nextInt(100)}" // numeric-looking host
        case _ => s"h${rnd.nextInt(20)}"
      },
      service = if (rnd.nextInt(10) == 0) null
        else Seq("cpu", "mem", "disk /", "api 1", "")(rnd.nextInt(5)),
      state = rnd.nextInt(6) match {
        case 0 => null
        case 1 => "true"
        case 2 => "2"
        case _ => Seq("ok", "warning", "critical")(rnd.nextInt(3))
      },
      metric = if (rnd.nextInt(4) == 0) None
        else Some(Seq(0.0, 1.0, -1.5, 64.0, 39.47, 1e5)(rnd.nextInt(6))),
      time = ts(1706000000L + rnd.nextInt(1000),
        if (rnd.nextBoolean()) 0 else rnd.nextInt(1000)),
      ttl = if (rnd.nextInt(3) == 0) None
        else Some(Seq(60.0, 90.5, 120.0)(rnd.nextInt(3))))
  }

  /** Random query-language strings over the SEvent surface — every
    * comparison shape the grammar admits that Catalyst accepts on this
    * schema (boolean-vs-numeric comparisons are analysis errors on
    * both paths, so the generator avoids them, as clients must). */
  private def randomQuery(depth: Int): String = {
    def strLit() = "\"" + Seq("cpu", "mem", "h3", "ok", "critical", "2",
      "64", "", "disk /")(rnd.nextInt(9)) + "\""
    def numLit() = Seq("0", "1", "-1.5", "64", "39.47", "1e5",
      "1706000100", "2.5")(rnd.nextInt(8))
    def leaf(): String = rnd.nextInt(12) match {
      case 0 => s"host = ${if (rnd.nextBoolean()) strLit() else numLit()}"
      case 1 => s"service != ${strLit()}"
      case 2 => s"state = ${Seq(strLit(), numLit(), "true", "nil")(rnd.nextInt(4))}"
      case 3 => s"metric ${Seq("=", "!=", "<", ">", "<=", ">=")(rnd.nextInt(6))} ${numLit()}"
      case 4 => s"ttl ${Seq("<", ">", "<=", ">=")(rnd.nextInt(4))} ${numLit()}"
      case 5 => s"metric = ${Seq("nil", strLit())(rnd.nextInt(2))}"
      case 6 => s"time ${Seq("=", "<", ">", ">=")(rnd.nextInt(4))} 1706000${100 + rnd.nextInt(800)}"
      case 7 => s"host =~ ${Seq("\"h%\"", "\"%3%\"", "\"%\"", "\"cpu\"")(rnd.nextInt(4))}"
      case 8 => s"service ~= ${Seq("\"c.u\"", "\"^mem\"", "\"disk\"", "\"[0-9]\"")(rnd.nextInt(4))}"
      case 9 => s"tagged ${strLit()}"
      case 10 => Seq("metric", "host", "custom", "true", "nil")(rnd.nextInt(5))
      case 11 => s"custom = ${Seq(strLit(), numLit(), "nil")(rnd.nextInt(3))}"
    }
    if (depth == 0) leaf()
    else rnd.nextInt(5) match {
      case 0 => s"${randomQuery(depth - 1)} and ${randomQuery(depth - 1)}"
      case 1 => s"${randomQuery(depth - 1)} or ${randomQuery(depth - 1)}"
      case 2 => s"not ${randomQuery(depth - 1)}"
      case 3 => s"(${randomQuery(depth - 1)})"
      case _ => leaf()
    }
  }

  private def key(e: WireEvent) =
    (e.host, e.service, e.state, e.metric, e.time, e.ttl)

  test("closure == Catalyst on randomized queries over a randomized " +
    "snapshot (the serving-path parity oracle)") {
    val events = randomEvents(80)
    val spark0 = spark
    import spark0.implicits._
    val snap = spark.createDataset(events).toDF()
    snap.cache().count()
    try {
      val queries = (1 to 120).map(_ => randomQuery(rnd.nextInt(3)))
      queries.foreach { q =>
        val catalyst = snap
          .filter(QueryLanguage.predicate(q, snap.schema))
          .as[WireEvent].collect().map(key).toSet
        val pred = EventPredicate(q)
        val closure = events.filter(pred).map(key).toSet
        assert(closure == catalyst,
          s"""closure/Catalyst divergence for query: $q
             |closure-only : ${(closure -- catalyst).take(3)}
             |catalyst-only: ${(catalyst -- closure).take(3)}""".stripMargin)
      }
    } finally { snap.unpersist(); () }
  }

  test("timestamp literals and LIKE/regex over time agree with " +
    "Catalyst in the pinned UTC zone (review findings: JVM-default-TZ " +
    "parse and Timestamp.toString's \".0\" fraction)") {
    val spark0 = spark
    import spark0.implicits._
    val events = Seq(
      SEvent("h1", "cpu", "ok", Some(1.0), ts(1706005000), Some(60.0)),
      SEvent("h2", "cpu", "ok", Some(2.0), ts(1706005000, 500), Some(60.0)),
      SEvent("h3", "mem", "ok", Some(3.0), ts(1706091400), None))
    val snap = spark.createDataset(events).toDF()
    val queries = Seq(
      "time = \"2024-01-23 10:16:40\"", // whole-second equality
      "time = \"2024-01-23T10:16:40\"", // T separator
      "time = \"2024-01-23\"",          // date-only
      "time =~ \"%10:16:40\"",          // anchored LIKE, zero fraction
      "time =~ \"%.5\"",                // fractional render
      "time ~= \"10:16:40\"",
      "time != \"2024-01-23 10:16:40\"")
    queries.foreach { q =>
      val catalyst = snap.filter(QueryLanguage.predicate(q, snap.schema))
        .as[WireEvent].collect().map(key).toSet
      assert(events.filter(EventPredicate(q)).map(key).toSet == catalyst,
        s"for query: $q")
    }
    // sanity against absolute semantics, not just parity: the UTC
    // string must hit the UTC event regardless of host JVM zone
    assert(events.count(
      EventPredicate("time = \"2024-01-23 10:16:40\"")) == 1)
  }

  test("SEvent entry points match the TAGLESS Catalyst compile for " +
    "queries naming tags (null resolution, review finding)") {
    val spark0 = spark
    import spark0.implicits._
    val events = randomEvents(20)
    val snap = spark.createDataset(events).toDF()
      .drop("tags", "attributes") // no tags column
    Seq("tags = nil", "tags", "not tags", "tags != nil").foreach { q =>
      val catalyst = WireEvent.from(
        snap.filter(QueryLanguage.predicate(q, snap.schema)))
        .collect().map(key).toSet
      assert(events.filter(EventPredicate(q)).map(key).toSet == catalyst,
        s"for query: $q")
    }
  }

  test("pkey fast path: host+service equality compiles to a point " +
    "lookup (index.clj:44-56), in every operand/conjunct order") {
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("""host = "h1" and service = "cpu""""))
      .contains(("h1", "cpu")))
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("""service = "cpu" and host = "h1""""))
      .contains(("h1", "cpu")))
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("\"h1\" = host and \"cpu\" = service"))
      .contains(("h1", "cpu")))
    // NOT pkey shapes: fall back to the scan closure
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("host = \"h1\" or service = \"cpu\"")).isEmpty)
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("host = \"h1\" and service != \"cpu\"")).isEmpty)
    assert(EventPredicate.pkeyLookup(
      QueryLanguage.parse("host = \"h1\" and metric = 1")).isEmpty)
  }

  test("ServedIndex.search serves pkey lookups and closure scans " +
    "Spark-free, agreeing with the Catalyst snapshot filter") {
    val idx = new Main.ServedIndex(spark)
    val events = randomEvents(60)
      .groupBy(e => (e.host, e.service)).map(_._2.head).toSeq // unique pkeys
    events.foreach(idx.putTagged)
    val spark0 = spark
    import spark0.implicits._
    val snap = spark.createDataset(idx.events).toDF()
    Seq("host = \"h3\" and service = \"cpu\"",
      "state = \"critical\"",
      "metric > 1 or ttl >= 90",
      "not host =~ \"h%\"").foreach { q =>
      val catalyst = snap.filter(QueryLanguage.predicate(q, snap.schema))
        .as[WireEvent].collect().map(key).toSet
      assert(idx.search(q).map(key).toSet == catalyst,
        s"for query: $q")
    }
    // tombstone via put: an expired event deletes its key
    events.headOption.foreach { e =>
      idx.putTagged(e.copy(state = "expired"))
      assert(idx.search(
        s"""host = "${e.host}" and service = "${e.service}"""").isEmpty)
    }
  }

  test("tagged index: `tagged` queries are real membership tests over " +
    "the served index, closure == Catalyst on the tagged snapshot") {
    import graft.streaming.WireEvent
    val spark0 = spark
    import spark0.implicits._
    val events = Seq(
      WireEvent("h1", "cpu", "critical", Some(0.9), ts(1706000100),
        Some(60.0), Seq("prod", "canary"), Map("paws" -> "4")),
      WireEvent("h2", "cpu", "ok", Some(0.2), ts(1706000100),
        Some(60.0), Seq("prod"), Map("paws" -> "3", "fur" -> "soft")),
      WireEvent("h3", "mem", "ok", Some(0.5), ts(1706000100),
        Some(60.0), Seq.empty, Map.empty))
    val idx = new Main.ServedIndex(spark)
    events.foreach(idx.putTagged)
    val snap = spark.createDataset(events).toDF()
    Seq("""tagged "prod"""",
      """tagged "canary" and state = "critical"""",
      """not tagged "prod"""",
      """tagged "prod" or metric > 0.4""",
      // attribute queries resolve through the attributes map, with
      // the numeric try-cast semantics (query_test.clj:252-262)
      "paws = 4",
      """paws = "4"""",
      "paws >= 3 and fur = nil",
      """fur = "soft"""",
      "missing = nil",
      // the container FIELDS themselves: truthiness and nil-equality
      // must track the real columns, not attributes["tags"] (review)
      "tags", "attributes", "tags != nil").foreach { q =>
      val catalyst = snap.filter(QueryLanguage.predicate(q, snap.schema))
        .collect().map(_.getAs[String]("host")).toSet
      assert(idx.search(q).map(_.host).toSet == catalyst, s"for query: $q")
    }
    assert(idx.search("""tagged "canary"""").map(_.host) == Seq("h1"))
    // the wire handler carries tags and attributes back in the reply
    val Right(hits) = idx.queryHandler("tagged \"canary\""): @unchecked
    assert(hits.map(_.tags) == Seq(Seq("prod", "canary")))
    assert(hits.map(_.attributes) == Seq(Map("paws" -> "4")))
  }

  test("EventJson tagged line is byte-identical to to_json over the " +
    "tagged index shape") {
    import graft.streaming.WireEvent
    val spark0 = spark
    import spark0.implicits._
    val events = Seq(
      WireEvent("h1", "cpu", "ok", Some(39.47), ts(1706000100),
        Some(60.0), Seq("prod", "a b\"c"), Map("k 1" -> "v\"2")),
      WireEvent(null, "mem", null, None, ts(1706000100, 123), None,
        Seq.empty, Map.empty))
    val snap = spark.createDataset(events).toDF()
    val sparkLines = snap
      .select(to_json(struct(snap.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getString(0))
    assert(events.map(EventJson.line) == sparkLines.toSeq)
  }

  test("concurrent serving: parallel mixed queries against a mutating " +
    "index stay consistent (the nbhm-index concurrency story)") {
    val idx = new Main.ServedIndex(spark)
    (0 until 2000).foreach { i =>
      idx.putTagged(SEvent(s"h${i % 200}", s"s${i / 200}",
        if (i % 7 == 0) "critical" else "ok", Some(i / 2000.0),
        ts(1706000000L + i), Some(60.0)))
    }
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { t =>
      new Thread(() =>
        try {
          var i = 0
          while (i < 1000) {
            val q = (t + i) % 3 match {
              case 0 => s"""host = "h${i % 200}" and service = "s${i % 10}""""
              case 1 => """state = "critical" and metric > 0.1"""
              case _ => """host =~ "h1%" or ttl >= 60"""
            }
            val hits = idx.search(q)
            // scans see a weakly-consistent snapshot; every hit must
            // still satisfy its own predicate
            if ((t + i) % 3 == 1)
              assert(hits.forall(e =>
                e.state == "critical" && e.metric.exists(_ > 0.1)))
            i += 1
          }
        } catch { case e: Throwable => errors.add(e); () })
    }
    val writer = new Thread(() => (0 until 5000).foreach { i =>
      idx.putTagged(SEvent(s"h${i % 200}", s"s${i % 10}",
        if (i % 2 == 0) "expired" else "ok", Some(0.5),
        ts(1706001000L + i), Some(60.0)))
    })
    (threads :+ writer).foreach(_.start())
    (threads :+ writer).foreach(_.join(60000))
    assert(errors.isEmpty, s"concurrent serving failed: ${errors.peek()}")
  }

  test("EventJson.line is byte-identical to to_json on every null/" +
    "escaping/precision shape (one format for dumps and pushes)") {
    val events = Seq(
      SEvent("h1", "cpu", "ok", Some(39.47), ts(1706000100), Some(60.0)),
      SEvent(null, "mem", null, None, ts(1706000100, 123), None),
      SEvent("quote\"back\\slash", "tab\there", "新\nline", Some(1.0),
        ts(1706000999, 1), Some(0.0)),
      SEvent("h", "", "ctrlchar", Some(1e5), ts(1706000000), None),
      SEvent("neg", "svc", "s", Some(-1.5e-5), ts(1706000500, 999),
        Some(1.0E10)))
    val spark0 = spark
    import spark0.implicits._
    val snap = spark.createDataset(events).toDF()
    val sparkLines = snap
      .select(to_json(struct(snap.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getString(0))
    val ours = events.map(EventJson.line)
    ours.zip(sparkLines).foreach { case (o, s) => assert(o == s) }
  }
}
