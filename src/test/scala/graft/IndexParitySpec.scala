package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.Index
import graft.streaming.{KeyedIndex, SEvent, StreamingIndex, WireEvent}

/** Randomized parity: the three index implementations — batch
  * snapshot/reaper (operators/Index), flatMapGroupsWithState
  * (StreamingIndex), and transformWithState (KeyedIndex) — must
  * agree on (a) the latest event per pkey and (b) which keys the
  * reaper expires, for arbitrary event sequences. This is the
  * batch/streaming contract SURVEY §2.7 promises, checked by property
  * rather than one golden case.
  *
  * Times are integers and ttls k+0.5 so the expiry comparison can
  * never land on the strict-vs-non-strict boundary; metrics increase
  * with event id so the same-second tie-break (event_id in batch,
  * metric in streaming — arrival order is not stable inside a
  * micro-batch) picks the same winner. */
class IndexParitySpec extends SparkSpec {

  private val NowS = 55L
  private def ts(s: Long) = new Timestamp(s * 1000)

  private case class Ev(host: String, t: Long, ttl: Option[Double])

  private val caseGen = for {
    n <- Gen.chooseNum(1, 12)
    evs <- Gen.listOfN(n, for {
      host <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(1L, 50L)
      ttl <- Gen.option(Gen.chooseNum(1, 40).map(_ + 0.5))
    } yield Ev(host, t, ttl))
  } yield evs

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(7L)
    for (_ <- 0 until n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  /** (latest (host, metric, time) per key, expired host set). */
  private def batchModel(evs: Seq[Ev]): (Set[(String, Double, Long)], Set[String]) = {
    val df = events(evs.zipWithIndex.map { case (e, i) =>
      E(id = i + 1, host = e.host, service = "s", metric = (i + 1).toDouble,
        time = e.t, ttl = e.ttl.map(Double.box).orNull)
    }: _*)
    val snap = Index.snapshot(df)
      .select("host", "metric", "time_s").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val expired = Index.expiredAt(df, lit(NowS))
      .select("host").collect().map(_.getString(0)).toSet
    (snap, expired)
  }

  private def runStreaming(evs: Seq[Ev],
      wire: org.apache.spark.sql.Dataset[WireEvent] => org.apache.spark.sql.Dataset[WireEvent],
      name: String): (Set[(String, Double, Long)], Set[String]) = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val q = wire(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      input.addData(evs.zipWithIndex.map { case (e, i) =>
        SEvent(e.host, "s", "ok", Some((i + 1).toDouble), ts(e.t), e.ttl)
      })
      q.processAllAvailable()
      // sentinel key advances the watermark to NowS; extra trigger
      // fires the armed timers against the new watermark
      input.addData(SEvent("wm", "s", "ok", Some(0.0), ts(NowS), None))
      q.processAllAvailable()
      input.addData(SEvent("wm", "s", "ok", Some(0.0), ts(NowS), None))
      q.processAllAvailable()
      val rows = spark.table(name).as[WireEvent].collect()
        .filter(_.host != "wm")
      val latest = rows.filter(_.state != "expired")
        .groupBy(_.host).map { case (_, rs) =>
          val last = rs.maxBy(e => (e.time.getTime, e.metric.getOrElse(0.0)))
          (last.host, last.metric.get, last.time.getTime / 1000)
        }.toSet
      val expired = rows.filter(_.state == "expired").map(_.host).toSet
      (latest, expired)
    } finally q.stop()
  }

  test("batch, flatMapGroupsWithState, and transformWithState indexes agree under random events") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      var i = 0
      forAllN(caseGen, 6) { evs =>
        i += 1
        val (snap, expired) = batchModel(evs)
        val (gsSnap, gsExpired) =
          runStreaming(evs, StreamingIndex(_), s"par_gs_$i")
        val (twsSnap, twsExpired) =
          runStreaming(evs, KeyedIndex(_), s"par_tws_$i")
        assert(gsSnap == snap, s"GroupState latest mismatch for $evs")
        assert(twsSnap == snap, s"transformWithState latest mismatch for $evs")
        assert(gsExpired == expired, s"GroupState expiry mismatch for $evs")
        assert(twsExpired == expired,
          s"transformWithState expiry mismatch for $evs")
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("tie-break corners: both streaming indexes pick the SAME winner " +
    "(metric None vs Some, ttl-presence, state on exact time ties)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark0 = spark
    import spark0.implicits._
    def se(state: String, m: Option[Double], ttl: Option[Double]) =
      SEvent("h", "s", state, m, ts(100), ttl)
    def winner(wire: org.apache.spark.sql.Dataset[WireEvent] =>
        org.apache.spark.sql.Dataset[WireEvent], name: String,
        evs: Seq[WireEvent]): WireEvent = {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[WireEvent]
      val q = wire(input.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        input.addData(evs)
        q.processAllAvailable()
        val rows = spark.table(name).as[WireEvent].collect()
        assert(rows.length == 1, s"$name emitted ${rows.length} rows")
        rows.head
      } finally q.stop()
    }
    val corners = Seq(
      // metric None must lose to Some(-1.0), not conflate with 0.0
      Seq(se("ok", None, None), se("ok", Some(-1.0), None)),
      // exact (time, metric, state) tie: ttl presence decides — the
      // immortal event must not silently win in one impl only
      Seq(se("ok", Some(1.0), None), se("ok", Some(1.0), Some(5000.0))),
      // state breaks a (time, metric) tie identically
      Seq(se("b", Some(1.0), None), se("a", Some(1.0), None)),
      // null state must not conflate with "" (wire events may lack the
      // field entirely): presence ranks below any string
      Seq(se(null, Some(1.0), None), se("", Some(1.0), None)))
    try corners.zipWithIndex.foreach { case (evs, i) =>
      val gs = winner(StreamingIndex(_), s"corner_gs_$i", evs)
      val tws = winner(KeyedIndex(_), s"corner_tws_$i", evs)
      val expect = evs.maxBy(SEvent.totalKey)
      assert(gs == expect, s"StreamingIndex corner $i picked $gs")
      assert(tws == expect, s"KeyedIndex corner $i picked $tws")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("the served index and WireIndexProcessor + upsert agree on seeded " +
    "wire batches: exact (time, metric) ties broken by tags and " +
    "attributes, late rows, ttl lapses, two feeds into one map") {
    import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
    import org.json4s._
    import graft.sinks.Sinks
    import graft.streaming.{KeyedIndex, WireEvent}
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val snapEvery = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    val retain = "spark.sql.streaming.minBatchesToRetain"
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // small log cadences, so the recovery checks below read delta
    // chains of every length, snapshots and pruned directories
    spark.conf.set(snapEvery, "4")
    spark.conf.set(retain, "3")
    val enc = Encoders.product[WireEvent]
    // one row per event, with the containers in a canonical order
    def canon(e: WireEvent): String =
      (e.host, e.service, e.state, e.metric, e.time.getTime, e.ttl,
        Option(e.tags).map(_.toList),
        Option(e.attributes).map(_.toSeq.sorted)).toString
    // the two feeds of examples/graft.example.json, each over its own
    // hosts (a key belongs to one feed) and its own watermark delay
    val feeds = Seq("tcp" -> "3 seconds", "graphite" -> "0 seconds")
    def batches(seed: Long): Seq[Seq[(String, Seq[WireEvent])]] = {
      val rng = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rng.nextInt(xs.size))
      (0 until 8).map { b =>
        feeds.map { case (feed, _) =>
          feed -> Seq.fill(1 + rng.nextInt(14)) {
            // times jitter around a base that moves 4 s a batch, so some
            // rows land at or below the watermark; few metrics and
            // states, so (time, metric) ties are common and only tags
            // or attributes break them; integer ttls lapse exactly on
            // the watermark
            WireEvent(s"$feed-${rng.nextInt(3)}", pick("cpu", "mem"),
              pick("ok", "ok", "critical", "expired"),
              pick(None, Some(0.0), Some(1.0)),
              ts(1000L + 4 * b + rng.nextInt(9) - 4),
              pick(None, Some(2.0), Some(5.0), Some(9.0)),
              pick(Seq.empty, Seq("x"), Seq("y"), Seq("x", "y")),
              pick(Map.empty[String, String], Map("k" -> "1"), Map("k" -> "2")))
          }
        }
      }
    }

    /** Each feed through KeyedIndex.wire and the old per-row upsert
      * of the served map, one micro-batch (and its no-data batch) per
      * input batch: (final map, pushed rows). */
    def oracle(input: Seq[Seq[(String, Seq[WireEvent])]], tag: String)
        : (Set[String], Seq[String]) = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val wireEnc: org.apache.spark.sql.Encoder[WireEvent] = enc
      val served = scala.collection.mutable.Map.empty[(String, String), WireEvent]
      val pushed = scala.collection.mutable.ArrayBuffer.empty[WireEvent]
      val streams = feeds.map { case (feed, wm) =>
        val in = MemoryStream[WireEvent]
        val q = KeyedIndex(in.toDS(), wm).writeStream
          .foreachBatch { (batch: Dataset[WireEvent], _: Long) =>
            val rows = batch.collect()
            served.synchronized {
              pushed ++= rows
              rows.foreach { e =>
                if (e.state == "expired") served.remove((e.host, e.service))
                else served((e.host, e.service)) = e
              }
            }
            ()
          }.queryName(s"served_oracle_${tag}_$feed").start()
        feed -> (in, q)
      }.toMap
      try input.foreach(_.foreach { case (feed, evs) =>
        val (in, q) = streams(feed)
        in.addData(evs)
        q.processAllAvailable()
      }) finally streams.values.foreach(_._2.stop())
      (served.values.map(canon).toSet, pushed.map(canon).toSeq.sorted)
    }

    def feedSpec(ckpt: java.nio.file.Path) =
      JObject("kind" -> JString("index"), "checkpoint" -> JString(ckpt.toString))
    def indexOp(wm: String) =
      JObject("op" -> JString("index"), "watermark" -> JString(wm))

    try Seq(11L, 12L, 13L).foreach { seed =>
      val input = batches(seed)
      val (oracleMap, oraclePushed) = oracle(input, seed.toString)

      val pubsub = new Sinks.Pubsub
      val pushed = scala.collection.mutable.ArrayBuffer.empty[WireEvent]
      pubsub.subscribe("index", (batch: DataFrame, _: Long) => {
        pushed ++= batch.as[WireEvent](enc).collect(); ()
      })
      val idx = new Main.ServedIndex(spark, pubsub)
      val dir = java.nio.file.Files.createTempDirectory("served-parity")
      val ckpts = feeds.map { case (f, _) => f -> dir.resolve(f) }.toMap
      val sinks = feeds.map { case (f, wm) =>
        f -> idx.sinkFor(f, feedSpec(ckpts(f)), Some(indexOp(wm)))
      }.toMap
      input.zipWithIndex.foreach { case (b, id) =>
        b.foreach { case (feed, evs) =>
          // three partitions, so one key's rows meet only on the driver;
          // `input` is the projection a query over the sink runs
          val sink = sinks(feed)
          sink.write(sink.input(
            spark.createDataset(evs)(enc).toDF().repartition(3)), id.toLong)
          // what Spark's commit log records once the batch is done
          java.nio.file.Files.createDirectories(
            ckpts(feed).resolve("commits"))
          java.nio.file.Files.writeString(
            ckpts(feed).resolve("commits").resolve(id.toString), "")
        }
        // after every batch, the logs under the checkpoints rebuild
        // the same map
        val recovered = new Main.ServedIndex(spark)
        feeds.foreach { case (f, wm) =>
          recovered.sinkFor(f, feedSpec(ckpts(f)), Some(indexOp(wm)))
        }
        assert(recovered.events.map(canon).toSet == idx.events.map(canon).toSet,
          s"seed $seed: map recovered after batch $id differs")
      }
      assert(idx.events.map(canon).toSet == oracleMap,
        s"seed $seed: final served map differs")
      assert(pushed.map(canon).toSeq.sorted == oraclePushed,
        s"seed $seed: pushed rows differ")
    } finally {
      spark.conf.unset(provider)
      spark.conf.unset(snapEvery)
      spark.conf.unset(retain)
    }
  }

  test("a successor feed replays the batch its predecessor logged but " +
    "Spark never committed: the rows are not late, they are pushed, and " +
    "the log keeps them") {
    import java.nio.file.Files
    import org.apache.spark.sql.{DataFrame, Encoders}
    import org.json4s._
    import graft.sinks.Sinks
    import graft.streaming.WireEvent
    val enc = Encoders.product[WireEvent]
    val ckpt = Files.createTempDirectory("served-replay")
    val spec = JObject("kind" -> JString("index"),
      "checkpoint" -> JString(ckpt.toString))
    val op = Some(JObject("op" -> JString("index"),
      "watermark" -> JString("0 seconds")))
    def ev(host: String, s: Long) = WireEvent(host, "cpu", "ok", Some(1.0),
      ts(s), None, Seq.empty, Map.empty)
    def write(sink: Sinks.EventSink, id: Long, e: WireEvent): Unit =
      sink.write(sink.input(spark.createDataset(Seq(e))(enc).toDF()), id)
    // what Spark's commit log records once the batch is done
    def commit(id: Long): Unit = {
      Files.createDirectories(ckpt.resolve("commits"))
      Files.writeString(ckpt.resolve("commits").resolve(id.toString), "")
      ()
    }
    val pubsub = new Sinks.Pubsub
    val pushed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    pubsub.subscribe("index", (batch: DataFrame, id: Long) => {
      pushed ++= batch.as[WireEvent](enc).collect().map(e => (id, e.host)); ()
    })
    val idx = new Main.ServedIndex(spark, pubsub)
    val first = idx.sinkFor("s", spec, op)
    write(first, 0, ev("a", 100))
    commit(0)
    // batch 1 is logged, then the query stops before Spark commits it
    write(first, 1, ev("b", 200))
    // a reload builds the successor while the old query still runs;
    // the restarted query replays batch 1 at batch 0's watermark
    val successor = idx.sinkFor("s", spec, op)
    write(successor, 1, ev("b", 200))
    commit(1)
    assert(pushed.count(_ == ((1L, "b"))) == 2, s"pushes: $pushed")
    assert(idx.events.map(_.host).toSet == Set("a", "b"))
    // a process restart rebuilds both keys from the log
    val restarted = new Main.ServedIndex(spark)
    restarted.sinkFor("s", spec, op)
    assert(restarted.events.map(_.host).toSet == Set("a", "b"))
  }
}
