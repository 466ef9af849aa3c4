package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.config.ConfigFile
import graft.sinks.Sinks
import graft.sources.{FanoutBuffer, OffsetBuffer}
import graft.streaming.{SEvent, WireEvent}

/** The config-surface fan-out contract (reference src/riemann/core.clj:
  * 15-20: `stream!` hands EVERY event to EVERY registered stream):
  * several config streams naming one source must each see every event
  * exactly once, with full per-stream streaming-stateful semantics —
  * the Loader tees the single-consumer source into per-subscriber
  * in-memory buffers (ConfigFile.Loader scaladoc). These tests pin:
  *   - N sinks × M events, exactly-once per sink, across rounds and
  *     across a tee restart that replays a batch
  *   - cross-batch STATEFUL state survives the tee hop (the property a
  *     foreachBatch-routing fan-out would silently break)
  *   - an edited stream starts on a fresh buffer: restart-loses-state
  *     reload semantics (pure.clj:1-30), no history replay, and the
  *     untouched sibling keeps its query
  *   - the 1→2 subscriber transition re-plans the previously-direct
  *     stream onto the tee
  *   - the buffer bound: a stalled subscriber makes the tee wait, a
  *     removed one never does
  *   - a `replayable` source skips the tee (native fan-out)
  */
class FanoutSpec extends SparkSpec {

  private def write(p: Path, s: String): Unit = { Files.writeString(p, s); () }

  /** A sink kind whose writes wait for `gate`, then record each row's
    * host: a subscriber that stalls on demand. */
  private def gated(gate: CountDownLatch,
      hosts: ConcurrentLinkedQueue[String]) = ConfigFile.SinkKind(
    (_, _, _) => new Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit = {
        gate.await()
        batch.collect().foreach(r => hosts.add(r.getAs[String]("host")))
      }
    })

  private def ev(i: Int) = SEvent(s"h$i", "s", "ok", Some(i.toDouble),
    new Timestamp(i * 1000L), None)

  /** Whether `source`'s tee is waiting for room in a buffer. */
  private def teeWaiting(source: String): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.exists { case (t, stack) =>
      t.getName.contains(s"__fanout__$source") &&
        t.getState == Thread.State.WAITING && stack.exists(f =>
          f.getClassName == classOf[OffsetBuffer[_]].getName &&
            f.getMethodName == "append")
    }
  }

  /** Feed `in` half a buffer at a time until its tee waits on a buffer
    * that nobody drains. Returns the row count fed. */
  private def overfill(in: MemoryStream[WireEvent]): Int = {
    val half = FanoutBuffer.Capacity / 2
    var sent = 0
    while (!teeWaiting("in") && sent < 8 * half) {
      in.addData((sent until sent + half).map(ev))
      sent += half
      val deadline = System.currentTimeMillis() + 5000
      while (!teeWaiting("in") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    assert(teeWaiting("in"), "the tee never waited for the stalled subscriber")
    sent
  }

  private def await(what: String)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(done, what)
  }

  test("fan-out: three sinks x two rounds, every subscriber sees every " +
    "event exactly once (core.clj:15-20)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-spec")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"all","source":"in","pipeline":[],
        |  "sink":{"kind":"memory"}},
        | {"name":"crit","source":"in",
        |  "pipeline":[{"op":"where","expr":"state = 'critical'"}],
        |  "sink":{"kind":"memory"}},
        | {"name":"x2","source":"in",
        |  "pipeline":[{"op":"scale","factor":2.0}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)

    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      assert(loader.reload().toSet == Set("all", "crit", "x2"))
      // ONE tee consumes the source; three subscriber queries
      assert(core.activeQueries.keySet ==
        Set("all", "crit", "x2", "__fanout__in"))

      def ev(i: Int, st: String) =
        SEvent(s"h$i", "s", st, Some(i.toDouble), new Timestamp(i * 1000L), None)
      in.addData(ev(1, "ok"), ev(2, "critical"))
      core.processAllAvailable()
      // extra drains must not re-deliver (exactly-once per sink)
      core.processAllAvailable()

      import scala.jdk.CollectionConverters._
      def hosts(name: String): Seq[String] = loader.memorySinks(name)
        .rows.asScala.toSeq.map(_.getAs[String]("host")).sorted
      assert(hosts("all") == Seq("h1", "h2"))
      assert(hosts("crit") == Seq("h2"))
      assert(hosts("x2") == Seq("h1", "h2"))
      assert(loader.memorySinks("x2").rows.asScala
        .map(_.getAs[Double]("metric")).toSet == Set(2.0, 4.0))

      // round two accumulates, still exactly once each
      in.addData(ev(3, "critical"))
      core.processAllAvailable()
      assert(hosts("all") == Seq("h1", "h2", "h3"))
      assert(hosts("crit") == Seq("h2", "h3"))
      assert(hosts("x2") == Seq("h1", "h2", "h3"))
    } finally core.stop()
  }

  test("fan-out preserves cross-batch STATEFUL semantics per subscriber " +
    "(streaming exact dedup drops a duplicate arriving in a LATER " +
    "micro-batch — what per-batch routing could never do)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-state")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"uniq","source":"docs",
        |  "pipeline":[{"op":"dedup","horizon":"1 hour"}],
        |  "sink":{"kind":"memory"}},
        | {"name":"raw","source":"docs","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)

    val in = MemoryStream[(Long, String, Timestamp)]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("docs" -> (() => in.toDF()
        .toDF("doc_id", "text", "time"))))
    try {
      loader.reload()
      def ts(s: Long) = new Timestamp(s * 1000)
      in.addData((1L, "the same document text", ts(100)))
      core.processAllAvailable()
      // the duplicate arrives in a SEPARATE micro-batch: only state
      // carried across batches inside the subscriber's own streaming
      // query can drop it
      in.addData((2L, "the same document text", ts(200)),
        (3L, "a different document", ts(300)))
      core.processAllAvailable()

      import scala.jdk.CollectionConverters._
      assert(loader.memorySinks("uniq").rows.asScala
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
      assert(loader.memorySinks("raw").rows.asScala
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    } finally core.stop()
  }

  test("reload: an edited subscriber rotates to a fresh spool (sees only " +
    "post-restart events — riemann restart-loses-state, no history " +
    "replay); the untouched sibling keeps its query and its stream") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-reload")
    val cfg = dir.resolve("c.json")
    def conf(factor: Double) =
      s"""{"streams":[
         | {"name":"a","source":"in","pipeline":[],
         |  "sink":{"kind":"memory"}},
         | {"name":"b","source":"in",
         |  "pipeline":[{"op":"scale","factor":$factor}],
         |  "sink":{"kind":"memory"}}]}""".stripMargin
    write(cfg, conf(2.0))

    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      loader.reload()
      val aId = core.activeQueries("a").id
      def ev(i: Int) =
        SEvent(s"h$i", "s", "ok", Some(i.toDouble), new Timestamp(i * 1000L), None)
      in.addData(ev(1))
      core.processAllAvailable()

      write(cfg, conf(10.0))
      assert(loader.reload() == Seq("b")) // a and the tee stay equiv
      assert(core.activeQueries("a").id == aId)

      in.addData(ev(5))
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      // b's sink: 2.0 from before the edit, then ONLY the new event at
      // the new factor — h1 is NOT replayed through the edited pipeline
      assert(loader.memorySinks("b").rows.asScala
        .map(_.getAs[Double]("metric")).toSeq.sorted == Seq(2.0, 50.0))
      // a never restarted and saw both
      assert(loader.memorySinks("a").rows.asScala
        .map(_.getAs[String]("host")).toSeq.sorted == Seq("h1", "h5"))
    } finally core.stop()
  }

  test("1 -> 2 subscriber transition: the previously-direct stream is " +
    "re-planned onto the tee and both see subsequent events") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-grow")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"a","source":"in","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)

    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      loader.reload()
      assert(core.activeQueries.keySet == Set("a")) // direct, no tee
      def ev(i: Int) =
        SEvent(s"h$i", "s", "ok", Some(i.toDouble), new Timestamp(i * 1000L), None)
      in.addData(ev(1))
      core.processAllAvailable()

      write(cfg,
        """{"streams":[
          | {"name":"a","source":"in","pipeline":[],
          |  "sink":{"kind":"memory"}},
          | {"name":"b","source":"in","pipeline":[],
          |  "sink":{"kind":"memory"}}]}""".stripMargin)
      // a restarts (its input plan flips from direct to its buffer)
      assert(loader.reload().toSet == Set("a", "b"))
      assert(core.activeQueries.keySet == Set("a", "b", "__fanout__in"))

      in.addData(ev(2))
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      def hosts(n: String) = loader.memorySinks(n).rows.asScala
        .map(_.getAs[String]("host")).toSeq.sorted
      // post-transition events are exactly-once everywhere; data the
      // source still RETAINED at the transition (h1's batch — a
      // MemoryStream trims only on the next batch's lazy commit) may
      // be re-delivered by the fresh tee: the documented at-least-once
      // topology-transition contract, matching the server sources'
      // restart handoff
      assert(hosts("a").count(_ == "h2") == 1 && hosts("a").contains("h1"))
      assert(hosts("b").count(_ == "h2") == 1)
    } finally core.stop()
  }

  test("plan discipline: a subscriber's where-filter pushes down into " +
    "its spool parquet scan (the fan-out hop costs a spool write, " +
    "never scan-level pushdown)") {
    // the test name predates the in-memory buffer: the scan is now the
    // buffer's, and the filter still runs inside it
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-plan")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"crit","source":"in",
        |  "pipeline":[{"op":"where","expr":"state = 'critical'"}],
        |  "sink":{"kind":"memory"}},
        | {"name":"all","source":"in","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new graft.config.ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      loader.reload()
      in.addData(SEvent("h1", "s", "critical", Some(1.0),
        new java.sql.Timestamp(1000), None),
        SEvent("h2", "s", "ok", Some(2.0), new java.sql.Timestamp(2000), None))
      core.processAllAvailable()
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        core.activeQueries("crit").explain()
      }
      // the buffer's batch is a streaming local relation: the optimizer
      // evaluates the filter inside the scan, so no Filter node is left
      val plan = out.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("Filter"),
        s"filter not pushed into the buffer scan:\n$plan")
      import scala.jdk.CollectionConverters._
      assert(loader.memorySinks("crit").rows.asScala
        .map(_.getAs[String]("host")).toSeq == Seq("h1"))
    } finally core.stop()
  }

  test("multi-source stream: `\"source\": [\"a\",\"b\"]` feeds ONE " +
    "topology with ONE state store — a duplicate arriving on the OTHER " +
    "source in a LATER micro-batch is dropped by the shared streaming " +
    "dedup state (riemann.config:6-28: tcp+udp+graphite into one " +
    "(streams ...); core.clj:15-20 stream!)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-multisrc")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"uniq","source":["a","b"],
        |  "pipeline":[{"op":"dedup","horizon":"1 hour"}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val inA = MemoryStream[(Long, String, Timestamp)]
    val inB = MemoryStream[(Long, String, Timestamp)]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map(
        "a" -> (() => inA.toDF().toDF("doc_id", "text", "time")),
        "b" -> (() => inB.toDF().toDF("doc_id", "text", "time"))))
    try {
      assert(loader.reload() == Seq("uniq"))
      // each source has exactly ONE subscriber: the union consumes both
      // directly in one query — no tee, no buffer hop
      assert(core.activeQueries.keySet == Set("uniq"))
      def ts(s: Long) = new Timestamp(s * 1000)
      inA.addData((1L, "the same document text", ts(100)))
      core.processAllAvailable()
      // duplicate text arrives on source B in a LATER batch: only ONE
      // state store spanning both sources can drop it (a per-transport
      // stream split would keep two dedup stores and let it through)
      inB.addData((2L, "the same document text", ts(200)),
        (3L, "a different document", ts(300)))
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(loader.memorySinks("uniq").rows.asScala
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    } finally core.stop()
  }

  test("union watermark liveness: a QUIET leg does not stall the " +
    "unioned stream — the watermark node sits ABOVE the unionByName, " +
    "so append-mode windows close from whichever leg feeds; the " +
    "per-leg min-watermark stall shape cannot occur in this topology " +
    "(r19 VERDICT #3)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-union-quiet")
    val cfg = dir.resolve("c.json")
    // append-mode windowed count: rows surface ONLY when the watermark
    // passes the window end — the strictest liveness probe available
    write(cfg,
      """{"streams":[
        | {"name":"win","source":["a","b"],
        |  "pipeline":[{"op":"window","seconds":10,
        |               "watermark":"0 seconds","agg":"count"}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val inA = MemoryStream[WireEvent]
    val inB = MemoryStream[WireEvent]   // never fed: the quiet leg
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("a" -> (() => inA.toDF()), "b" -> (() => inB.toDF())))
    import scala.jdk.CollectionConverters._
    try {
      loader.reload()
      def ev(s: Long) = SEvent("h1", "svc", "ok", Some(1.0),
        new Timestamp(s * 1000), None)
      inA.addData(ev(105))
      core.processAllAvailable()
      // event time 125 on the ACTIVE leg advances the single post-union
      // watermark past 110 and must close window [100, 110) even
      // though leg b has never produced a row
      inA.addData(ev(125))
      val deadline = System.currentTimeMillis() + 30000
      def rows() = loader.memorySinks("win").rows.asScala.toSeq
      while (rows().isEmpty && System.currentTimeMillis() < deadline) {
        core.processAllAvailable(); Thread.sleep(50)
      }
      val closed = rows()
      assert(closed.nonEmpty,
        "the quiet leg stalled the union watermark: no window ever closed")
      assert(closed.exists(r =>
        r.getAs[java.sql.Timestamp]("time").getTime == 100000L &&
          r.getAs[Double]("metric") == 1.0), s"got $closed")
    } finally core.stop()
  }

  test("multi-source x fan-out mix: a source shared with another stream " +
    "is teed; the multi-source stream unions its spool leg with its " +
    "still-direct leg; duplicate source names in one stream are rejected") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-multisrc-mix")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"both","source":["a","b"],"pipeline":[],
        |  "sink":{"kind":"memory"}},
        | {"name":"onlyA","source":"a","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val inA = MemoryStream[WireEvent]
    val inB = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("a" -> (() => inA.toDF()), "b" -> (() => inB.toDF())))
    try {
      assert(loader.reload().toSet == Set("both", "onlyA"))
      // a: 2 subscribers -> teed; b: 1 subscriber -> direct into both's union
      assert(core.activeQueries.keySet ==
        Set("both", "onlyA", "__fanout__a"))
      def ev(i: Int) = SEvent(s"h$i", "s", "ok", Some(i.toDouble),
        new Timestamp(i * 1000L), None)
      inA.addData(ev(1))
      inB.addData(ev(2))
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      def hosts(n: String) = loader.memorySinks(n).rows.asScala
        .map(_.getAs[String]("host")).toSeq.sorted
      assert(hosts("both") == Seq("h1", "h2"))
      assert(hosts("onlyA") == Seq("h1"))
    } finally core.stop()

    val badCfg = dir.resolve("bad.json")
    write(badCfg,
      """{"streams":[
        | {"name":"dup","source":["a","a"],"pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core2 = new Core(spark)
    val loader2 = new ConfigFile.Loader(core2, spark, badCfg,
      sources0 = Map("a" -> (() => inA.toDF())))
    try {
      val e = intercept[IllegalArgumentException](loader2.reload())
      assert(e.getMessage.contains("twice"))
    } finally core2.stop()
  }

  test("multi-source stream with HETEROGENEOUS source schemas unions by " +
    "name (missing columns null-filled) — a tcp SEvent leg and a " +
    "graphite-shaped leg feed one pipeline") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-multisrc-hetero")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"merged","source":["ev","lines"],"pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val inEv = MemoryStream[WireEvent]
    val inLn = MemoryStream[(String, Double, Timestamp)]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map(
        "ev" -> (() => inEv.toDF()),
        "lines" -> (() => inLn.toDF().toDF("service", "metric", "time"))))
    try {
      loader.reload()
      inEv.addData(SEvent("h1", "cpu", "ok", Some(0.5),
        new Timestamp(1000), None))
      inLn.addData(("mem", 0.7, new Timestamp(2000)))
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = loader.memorySinks("merged").rows.asScala.toSeq
      assert(rows.size == 2)
      val byService = rows.map(r =>
        r.getAs[String]("service") -> r).toMap
      // the SEvent leg carries host/state; the line leg has them null
      assert(byService("cpu").getAs[String]("host") == "h1")
      assert(byService("mem").getAs[String]("host") == null)
      assert(byService("mem").getAs[Double]("metric") == 0.7)
    } finally core.stop()
  }

  test("exactly-once across a tee restart: the tee replays its last " +
    "micro-batch under the same batch id (commit marker deleted), every " +
    "buffer ignores it, and each subscriber sees event_ids 1, 2 once") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-fanout-eo")
    val srcDir = dir.resolve("src")
    Files.createDirectories(srcDir)
    Seq((1L, "m1"), (2L, "m2")).toDF("event_id", "msg")
      .write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"p","source":"log","pipeline":[],
        |  "sink":{"kind":"memory"}},
        | {"name":"q","source":"log","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("log" -> (() =>
        spark.readStream.schema(schema).parquet(srcDir.toString))))
    import scala.jdk.CollectionConverters._
    def ids(n: String) = loader.memorySinks(n).rows.asScala
      .map(_.getAs[Long]("event_id")).toSeq.sorted
    try {
      loader.reload()
      core.processAllAvailable()
      assert(ids("p") == Seq(1L, 2L) && ids("q") == Seq(1L, 2L))

      // crash simulation: the tee handed its batch over but died before
      // committing it — stop it, delete its newest commit marker
      core.activeQueries("__fanout__log").stop()
      val commits = loader.teeCheckpoint("log").resolve("commits")
      val newest = Files.list(commits).iterator().asScala
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      Files.delete(newest)
      Files.deleteIfExists(
        commits.resolve(s".${newest.getFileName.toString}.crc"))

      // the next reload restarts the dead tee on its checkpoint; the
      // subscribers keep running on their buffers
      assert(loader.reload() == Seq())
      core.processAllAvailable()
      assert(core.activeQueries("__fanout__log").recentProgress
        .exists(_.numInputRows == 2), "the tee did not replay its batch")
      for (n <- Seq("p", "q"))
        assert(ids(n) == Seq(1L, 2L), s"subscriber $n saw a replayed duplicate")
    } finally core.stop()
  }

  test("value fidelity: micros timestamps, NaN metrics, nulls, tags, " +
    "attributes and binary payloads round-trip the tee hop exactly") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a WireEvent source (tags + attributes) through a 2-subscriber tee
    val dir = Files.createTempDirectory("graft-fanout-values")
    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"a","source":"in","pipeline":[],"sink":{"kind":"memory"}},
        | {"name":"b","source":"in","pipeline":[],"sink":{"kind":"memory"}}]}"""
        .stripMargin)
    val in = MemoryStream[graft.streaming.WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    import scala.jdk.CollectionConverters._
    try {
      loader.reload()
      val tMicros = java.sql.Timestamp.valueOf("2024-01-29 08:38:55.123456")
      in.addData(
        graft.streaming.WireEvent("h1", "cpu", "ok", Some(0.25), tMicros,
          Some(60.0), Seq("prod", "edge"), Map("dc" -> "ams", "rack" -> "7")),
        graft.streaming.WireEvent("h2", "cpu", "ok", Some(Double.NaN),
          tMicros, None, Seq.empty, Map.empty),
        graft.streaming.WireEvent(null, "cpu", null, None, tMicros,
          None, null, null))
      core.processAllAvailable()
      for (n <- Seq("a", "b")) {
        val rows = loader.memorySinks(n).rows.asScala.toSeq
        assert(rows.size == 3, s"$n: ${rows.size} rows")
        val h1 = rows.find(_.getAs[String]("host") == "h1").get
        assert(h1.getAs[java.sql.Timestamp]("time") == tMicros,
          "micros timestamp must round-trip exactly")
        assert(h1.getAs[Double]("metric") == 0.25)
        assert(h1.getSeq[String](h1.fieldIndex("tags")).toList ==
          List("prod", "edge"))
        assert(h1.getAs[Map[String, String]]("attributes") ==
          Map("dc" -> "ams", "rack" -> "7"))
        val h2 = rows.find(_.getAs[String]("host") == "h2").get
        assert(h2.getAs[Double]("metric").isNaN)
        val hn = rows.find(_.getAs[String]("host") == null).get
        assert(hn.isNullAt(hn.fieldIndex("metric")) &&
          hn.getAs[String]("state") == null)
      }
    } finally core.stop()

    // binary payloads round-trip too
    val dir2 = Files.createTempDirectory("graft-fanout-bin")
    val cfg2 = dir2.resolve("c.json")
    write(cfg2,
      """{"streams":[
        | {"name":"p","source":"blobs","pipeline":[],"sink":{"kind":"memory"}},
        | {"name":"q","source":"blobs","pipeline":[],"sink":{"kind":"memory"}}]}"""
        .stripMargin)
    val inB = MemoryStream[(Long, Array[Byte])]
    val core2 = new Core(spark)
    val loader2 = new ConfigFile.Loader(core2, spark, cfg2,
      sources0 = Map("blobs" ->
        (() => inB.toDF().toDF("media_id", "payload"))))
    try {
      loader2.reload()
      inB.addData((7L, Array[Byte](0, 1, 2, -1)))
      core2.processAllAvailable()
      for (n <- Seq("p", "q")) {
        val rows = loader2.memorySinks(n).rows.asScala.toSeq
        assert(rows.size == 1)
        assert(rows.head.getAs[Array[Byte]]("payload").toSeq ==
          Seq[Byte](0, 1, 2, -1))
      }
    } finally core2.stop()
  }

  test("a stalled subscriber: the tee waits at the buffer bound, and once " +
    "the subscriber resumes no row is lost or repeated") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = Files.createTempDirectory("graft-fanout-stall").resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"slow","source":"in","pipeline":[],"sink":{"kind":"gate"}},
        | {"name":"fast","source":"in","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val gate = new CountDownLatch(1)
    val slow = new ConcurrentLinkedQueue[String]()
    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())),
      sinkFactories = Map("gate" -> gated(gate, slow)))
    try {
      loader.reload()
      val n = overfill(in)
      def fast = loader.memorySinks("fast").rows.size
      gate.countDown()
      await(s"rows lost: slow ${slow.size}, fast $fast of $n")(
        slow.size == n && fast == n)
      import scala.jdk.CollectionConverters._
      assert(slow.asScala.toSet.size == n)
      assert(loader.memorySinks("fast").rows.asScala
        .map(_.getAs[String]("host")).toSet.size == n)
    } finally { gate.countDown(); core.stop() }
  }

  test("a removed subscriber never blocks the tee: dropping a stalled " +
    "subscriber frees the tee, and the survivor gets every row") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = Files.createTempDirectory("graft-fanout-drop").resolve("c.json")
    val keep = """{"name":"a","source":"in","pipeline":[],
      |  "sink":{"kind":"memory"}}""".stripMargin
    write(cfg, s"""{"streams":[$keep,
      | {"name":"b","source":"in","pipeline":[],"sink":{"kind":"gate"}}]}"""
      .stripMargin)
    val gate = new CountDownLatch(1)
    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())),
      sinkFactories = Map("gate" ->
        gated(gate, new ConcurrentLinkedQueue[String]())))
    try {
      loader.reload()
      val n = overfill(in)
      // b is never released: only its removal can free the tee
      write(cfg, s"""{"streams":[$keep]}""")
      assert(loader.reload() == Seq())
      assert(core.activeQueries.keySet == Set("a", "__fanout__in"))
      def a = loader.memorySinks("a").rows.size
      await(s"a got $a of $n rows")(a == n)
    } finally { gate.countDown(); core.stop() }
  }

  test("a subscriber whose query fails to start never blocks the tee: " +
    "the other subscriber gets every row of more than a full buffer") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = Files.createTempDirectory("graft-fanout-nostart")
      .resolve("c.json")
    // complete mode without an aggregation is refused at query start
    write(cfg,
      """{"streams":[
        | {"name":"a","source":"in","pipeline":[],"sink":{"kind":"memory"}},
        | {"name":"bad","source":"in","pipeline":[],
        |  "sink":{"kind":"memory","outputMode":"complete"}}]}""".stripMargin)
    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      intercept[org.apache.spark.sql.AnalysisException](loader.reload())
      assert(core.activeQueries.keySet == Set("a", "__fanout__in"))
      // one buffer's worth per tee batch: an open, unread buffer for
      // `bad` would make the tee wait from the second batch on
      def a = loader.memorySinks("a").rows.size
      val c = FanoutBuffer.Capacity
      for (k <- 0 until 3) {
        in.addData((k * c until (k + 1) * c).map(ev))
        await(s"a got $a of ${(k + 1) * c} rows")(a == (k + 1) * c)
      }
    } finally core.stop()
  }

  test("a subscriber with a sink checkpoint, restarted by a fresh Core " +
    "and Loader, receives new events: its fresh buffer's offsets " +
    "continue above the checkpointed ones") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fanout-ckpt")
    val cfg = dir.resolve("c.json")
    write(cfg,
      s"""{"streams":[
         | {"name":"p","source":"in","pipeline":[],
         |  "sink":{"kind":"memory","checkpoint":"${dir.resolve("p")}"}},
         | {"name":"q","source":"in","pipeline":[],
         |  "sink":{"kind":"memory"}}]}""".stripMargin)
    import scala.jdk.CollectionConverters._
    // each run is one process: its own source, Core and Loader
    def run(i: Int): Seq[String] = {
      val in = MemoryStream[WireEvent]
      val core = new Core(spark)
      val loader = new ConfigFile.Loader(core, spark, cfg,
        sources0 = Map("in" -> (() => in.toDF())))
      try {
        loader.reload()
        in.addData(ev(i))
        core.processAllAvailable()
        loader.memorySinks("p").rows.asScala.map(_.getAs[String]("host")).toSeq
      } finally core.stop()
    }
    assert(run(1) == Seq("h1"))
    assert(Files.exists(dir.resolve("p").resolve("commits")))
    assert(run(2) == Seq("h2"))
  }

  test("plan discipline x multi-source: a where-filter pushes down " +
    "through the unionByName into BOTH spool parquet scans (the union " +
    "never blocks scan-level pushdown)") {
    // the test name predates the in-memory buffer: the scans are now the
    // buffers', and the filter still runs inside each
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-multisrc-plan")
    val cfg = dir.resolve("c.json")
    // xa/xb force both sources onto tees, so crit's two legs are both
    // buffer scans
    write(cfg,
      """{"streams":[
        | {"name":"crit","source":["a","b"],
        |  "pipeline":[{"op":"where","expr":"state = 'critical'"}],
        |  "sink":{"kind":"memory"}},
        | {"name":"xa","source":"a","pipeline":[],"sink":{"kind":"memory"}},
        | {"name":"xb","source":"b","pipeline":[],"sink":{"kind":"memory"}}
        |]}""".stripMargin)
    val inA = MemoryStream[WireEvent]
    val inB = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("a" -> (() => inA.toDF()), "b" -> (() => inB.toDF())))
    try {
      loader.reload()
      assert(core.activeQueries.keySet ==
        Set("crit", "xa", "xb", "__fanout__a", "__fanout__b"))
      var t = 1000L
      def feed(): Unit = {
        inA.addData(SEvent("h1", "s", "critical", Some(1.0),
          new Timestamp(t), None))
        inB.addData(SEvent("h2", "s", "ok", Some(2.0),
          new Timestamp(t + 1000), None),
          SEvent("h3", "s", "critical", Some(3.0),
            new Timestamp(t + 1000), None))
        t += 2000
        core.processAllAvailable()
      }
      // explain() shows the LAST micro-batch's plan; on a loaded box the
      // two tees' batches can land in different subscriber batches,
      // leaving only one leg's scan in that final plan (the other leg is
      // empty and pruned). Re-feed both sources and re-drain until some
      // batch carries rows from BOTH buffers — bounded, and a genuine
      // pushdown regression (a Filter left above a scan) fails every
      // attempt.
      def plan(): String = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out)) {
          core.activeQueries("crit").explain()
        }
        out.toString
      }
      def scans(p: String): Int = p.sliding("LocalTableScan".length)
        .count(_ == "LocalTableScan")
      feed()
      var attempt = 0
      while (scans(plan()) < 2 && attempt < 10) { feed(); attempt += 1 }
      val p = plan()
      assert(scans(p) >= 2 && !p.contains("Filter"),
        s"filter not pushed into both union legs' scans:\n$p")
      import scala.jdk.CollectionConverters._
      assert(loader.memorySinks("crit").rows.asScala
        .map(_.getAs[String]("host")).toSet == Set("h1", "h3"))
    } finally core.stop()
  }

  test("a source declared `replayable` skips the tee: each subscriber " +
    "consumes the source independently (the kafka shape — at scale the " +
    "durable bus IS the fan-out)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-fanout-replay")
    val srcDir = dir.resolve("src")
    Files.createDirectories(srcDir)
    // a parquet file-stream source IS replayable: every query tracks
    // its own seen-files set
    Seq((1L, "m1"), (2L, "m2")).toDF("event_id", "msg")
      .write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema

    val cfg = dir.resolve("c.json")
    write(cfg,
      """{"streams":[
        | {"name":"p","source":"log","pipeline":[],
        |  "sink":{"kind":"memory"}},
        | {"name":"q","source":"log","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("log" -> (() =>
        spark.readStream.schema(schema).parquet(srcDir.toString))),
      replayable = Set("log"))
    try {
      assert(loader.reload().toSet == Set("p", "q"))
      assert(core.activeQueries.keySet == Set("p", "q")) // NO tee
      core.processAllAvailable()
      import scala.jdk.CollectionConverters._
      for (n <- Seq("p", "q"))
        assert(loader.memorySinks(n).rows.asScala
          .map(_.getAs[Long]("event_id")).toSet == Set(1L, 2L), n)
    } finally core.stop()
  }
}
