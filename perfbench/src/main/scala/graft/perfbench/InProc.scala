package graft.perfbench

import graft.Main
import graft.query.QueryLanguage
import graft.sources.RiemannProtobuf.PEvent
import graft.streaming.WireEvent

/** In-process timings of the query layer: `QueryLanguage.parse` and
  * `ServedIndex.search` over the same query mix and the same keys the
  * wire saw (the final index dump), without the socket. */
object InProc {

  def querySpeeds(seed: Long, static: IndexedSeq[Wire.Ev], dump: Seq[PEvent]): Trace.Metrics = {
    // the served index needs no session for search; only snapshot uses it
    val index = new Main.ServedIndex(null)
    dump.foreach(e => index.putTagged(WireEvent(e.host, e.service, e.state, e.metric,
      new java.sql.Timestamp(e.time_s.getOrElse(0L) * 1000), e.ttl,
      e.tags, e.attributes)))
    val qs = new Gen.Queries(seed, static)
    val mix = Vector.fill(4000)(qs.next().text)
    val parse, search = new Stats.Series
    for ((q, i) <- mix.zipWithIndex) {
      val t0 = System.nanoTime()
      QueryLanguage.parse(q)
      val t1 = System.nanoTime()
      index.search(q)
      val t2 = System.nanoTime()
      if (i >= 1000) { parse.add((t1 - t0) / 1e3); search.add((t2 - t1) / 1e3) } // first 1000 warm up
    }
    Map("query.parse_us_p50" -> (Stats.percentile(parse.values, 50).getOrElse(0.0), "us"),
      "query.search_us_p50" -> (Stats.percentile(search.values, 50).getOrElse(0.0), "us"))
  }
}
