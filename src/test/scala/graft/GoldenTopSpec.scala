package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Streams.EventOps
import graft.streaming.{SEvent, StatefulOps, WireEvent}

/** The reference's `top` golden tables, ported verbatim
  * (test/riemann/streams_test.clj top-test): latest-metric ranking,
  * expired mirrors for non-members, nil-metric displacement, expired
  * inputs, the full ring sequence, and the demote arity — plus the
  * splitp no-default throw (condp semantics). */
class GoldenTopSpec extends SparkSpec {

  private var n = 0

  /** Run one reference table: input (service, metric, inputExpired?)
    * tuples in arrival order (times 1..n force that order through the
    * per-batch event-time sort) → observed (service, state, metric). */
  private def runTop(k: Int, demote: Boolean,
      seq: Seq[(String, Option[Double], Boolean)])
      : Seq[(String, String, Option[Double])] = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    n += 1
    val name = s"golden_top_$n"
    val input = MemoryStream[WireEvent]
    val q = StatefulOps.topLatest(input.toDS(), k, demote)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      val evs = seq.zipWithIndex.map { case ((svc, m, exp), i) =>
        SEvent("h", svc, if (exp) "expired" else "ok", m,
          new Timestamp((i + 1) * 1000L), None)
      }
      input.addData(evs: _*)
      q.processAllAvailable()
      spark.table(name).as[WireEvent].collect()
        // demote mirrors share the passing event's time; expired first
        .sortBy(e => (e.time.getTime, if (e.state == "expired") 0 else 1))
        .map(e => (e.service, e.state, e.metric)).toSeq
    } finally q.stop()
  }

  private def in(svc: String, m: Double) = (svc, Some(m), false)
  private def inNil(svc: String) = (svc, None: Option[Double], false)
  private def inExp(svc: String, m: Double) = (svc, Some(m), true)
  private def ok(svc: String, m: Double) = (svc, "ok", Some(m))
  private def exp(svc: String) = (svc, "expired", None: Option[Double])

  test("top: single event and repeats pass (top-test 1-2)") {
    assert(runTop(1, false, Seq(in("a", 1))) == Seq(ok("a", 1)))
    assert(runTop(1, false,
      Seq(in("a", 1), in("a", 2), in("a", 1), in("a", 3))) ==
      Seq(ok("a", 1), ok("a", 2), ok("a", 1), ok("a", 3)))
  }

  test("top: displacing a smaller event (top-test)") {
    assert(runTop(2, false,
      Seq(in("a", 1), in("b", 2), in("c", 3), in("a", 1), in("b", 2))) ==
      Seq(ok("a", 1), ok("b", 2), ok("c", 3), exp("a"), ok("b", 2)))
  }

  test("top: allowing in a smaller event when there's room (top-test)") {
    assert(runTop(2, false,
      Seq(in("a", 2), in("b", 2), in("c", 1), in("a", 5), in("c", 1),
        in("a", 0), in("c", 1))) ==
      Seq(ok("a", 2), ok("b", 2), exp("c"), ok("a", 5), exp("c"),
        ok("a", 0), ok("c", 1)))
  }

  test("top: ignoring smaller events; nil metric removes the key (top-test)") {
    assert(runTop(2, false,
      Seq(in("a", 1), in("b", 2), in("c", 3), in("d", 1), in("a", 2),
        inNil("b"), in("d", 2))) ==
      Seq(ok("a", 1), ok("b", 2), ok("c", 3), exp("d"), exp("a"),
        exp("b"), ok("d", 2)))
  }

  test("top: events without metrics expire and displace (top-test)") {
    assert(runTop(1, false, Seq(inNil("a"), in("b", 1), inNil("a"))) ==
      Seq(exp("a"), ok("b", 1), exp("a")))
    assert(runTop(1, false, Seq(in("b", 2), inNil("b"), in("a", 1))) ==
      Seq(ok("b", 2), exp("b"), ok("a", 1)))
  }

  test("top: expired inputs forward and remove (top-test)") {
    assert(runTop(2, false, Seq(inExp("a", 2))) == Seq(exp("a")))
    assert(runTop(1, false,
      Seq(in("a", 2), inExp("a", 1), in("b", 1))) ==
      Seq(ok("a", 2), exp("a"), ok("b", 1)))
  }

  test("top: ring (top-test)") {
    assert(runTop(2, false,
      Seq(in("a", 1), in("b", 2), in("c", 3), in("d", 4), in("a", 2),
        in("b", 3), in("c", 4), in("d", 5))) ==
      Seq(ok("a", 1), ok("b", 2), ok("c", 3), ok("d", 4), exp("a"),
        exp("b"), ok("c", 4), ok("d", 5)))
  }

  test("top: demotion mirrors the displaced key (top-test demote arity)") {
    assert(runTop(1, true, Seq(in("a", 1), in("b", 2))) ==
      Seq(ok("a", 1), exp("a"), ok("b", 2)))
  }

  test("splitp without a default throws on a non-matching value (splitp-test)") {
    val df = events(E(id = 1, state = "unknown"))
      .splitpStrict(col("state"), Seq(("critical", "page")))
    val err = intercept[Exception](df.select("route").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(err).exists(_.contains("no matching clause")))
    // matching rows still route
    val okDf = events(E(id = 2, state = "critical"))
      .splitpStrict(col("state"), Seq(("critical", "page")))
    assert(one[String](okDf.select("route"), "route") == "page")
  }
}
