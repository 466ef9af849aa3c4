package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KeyedIndex, SEvent, StreamingBatch, StreamingRate,
  StreamingRollup, StreamingStable, StreamingSubstringDedup, WireEvent}

/** The one keyed-state processor keeps one live timer per key: however
  * often a key re-arms, its state rows stay at the step's per-key
  * bound. `numRowsTotal` counts the key's value row, its armed deadline
  * and its buffered rows; RocksDB's internal column families hold the
  * registered timer twice (by key and by time) and a non-empty
  * buffer's row counter. A superseded timer left registered would add
  * two internal rows on every re-arm. */
class KeyedProcessorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def ev(state: String, t: Long, ttl: Option[Double] = None) =
    SEvent("h", "s", state, Some(1.0), ts(t), ttl)

  private val Batches = 13

  private def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum

  private def internalRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(
      _.customMetrics.get("rocksdbNumInternalColFamiliesKeys").longValue)).sum

  /** Feed one key `Batches` micro-batches through `op`; after the last,
    * the key holds its value, its armed deadline, one timer and
    * `buffered` buffer rows. */
  private def churn[T: Encoder](name: String, buffered: Int,
      feed: Int => Seq[T])(op: Dataset[T] => Dataset[_]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = op(input.toDS()).writeStream.format("memory")
      .queryName(s"churn_${name}_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      (0 until Batches).foreach { i =>
        input.addData(feed(i))
        q.processAllAvailable()
      }
      val (rows, internal) = (stateRows(q), internalRows(q))
      assert(rows <= 2 + buffered,
        s"$name: $rows state rows after $Batches batches")
      assert(internal <= 2 + math.min(buffered, 1),
        s"$name: $internal timer and counter rows after $Batches batches")
    } finally q.stop()
  }

  /** Run `op` over `first`, stop it, start it again on the same
    * checkpoint over `second`: what the restarted query emits. */
  private def restarted[T: Encoder](first: Seq[T], second: Seq[T])(
      op: Dataset[T] => Dataset[_]): Seq[Row] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val ckpt = java.nio.file.Files.createTempDirectory("keyed-restart")
    def run(rows: Seq[T]): Seq[Row] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
      val collect: (DataFrame, Long) => Unit =
        (df, _) => df.collect().foreach(out.add)
      val q = op(input.toDS()).toDF().writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt.toString).start()
      try { input.addData(rows); q.processAllAvailable() } finally q.stop()
      out.toArray(Array.empty[Row]).toSeq
    }
    run(first)
    run(second)
  }

  test("every keyed step restores its state across a stop and a restart " +
    "on the same checkpoint") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      val span = (1 to 8).map(w => s"w$w").mkString(" ")
      // each second run emits what only the first run's state explains
      val restores: Seq[(String, () => Boolean)] = Seq(
        // the open interval's sum closes at the rollover
        "rate" -> (() => restarted(Seq(ev("ok", 1000)), Seq(ev("ok", 1020)))(
          StreamingRate(_, 10)).exists(r => r.getAs[Long]("time_s") == 1010 &&
            r.get(r.fieldIndex("rate")) == 0.1)),
        // the period's pass is spent: the next event rolls up
        "rollup" -> (() => restarted(Seq(ev("ok", 1000)),
          Seq(ev("ok", 1001), ev("ok", 1200)))(
          StreamingRollup(_, n = 1, dtSeconds = 100)).exists(r =>
            r.getAs[Boolean]("rolled") && r.getSeq[Row](1).size == 1)),
        // the probation buffer flushes with its proof
        "stable" -> (() => restarted(Seq(ev("ok", 1000)), Seq(ev("ok", 1200)))(
          StreamingStable(_, 100)).size == 2),
        // the open batch fills up
        "batch" -> (() => restarted(Seq(ev("ok", 1000)), Seq(ev("ok", 1001)))(
          StreamingBatch(_, n = 2, dtSeconds = 1000)).exists(
            _.getSeq[Row](1).size == 2)),
        // the stored event outranks an older-metric tie
        "index" -> (() => restarted(Seq(ev("ok", 1000)),
          Seq(SEvent("h", "s", "ok", Some(0.5), ts(1000), None)))(
          KeyedIndex(_, "10 seconds")).map(_.getAs[Double]("metric")) ==
          Seq(1.0)),
        // the gram's canonical occurrence marks the later one
        "substring" -> (() => restarted(Seq((1L, span, ts(1000))),
          Seq((2L, span, ts(1001))))(d => StreamingSubstringDedup.marks(
            d.toDF("doc_id", "text", "time"), "time", minLen = 8)).exists(r =>
              r.getAs[Long]("doc_id") == 2L && r.getAs[Int]("p") >= 1)))
      restores.foreach { case (name, restored) =>
        assert(restored(), s"$name: the restarted query lost its state")
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stable, rollup and batch emit whole events: a tag and a custom " +
    "attribute ride through each") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      implicit val sqlCtx = spark.sqlContext
      def tagged(t: Long) = WireEvent("h", "s", "ok", Some(1.0), ts(t), None,
        Seq("prod"), Map("paws" -> "4"))
      val emitted: Seq[(String, Dataset[WireEvent] => Dataset[Seq[WireEvent]],
          Int)] = Seq(
        ("stable", StreamingStable(_, 1).map(Seq(_)), 3),
        ("rollup", StreamingRollup(_, n = 1, dtSeconds = 100).map(_.events), 3),
        ("batch", StreamingBatch(_, n = 2, dtSeconds = 100).map(_.events), 2))
      emitted.foreach { case (name, op, n) =>
        val input = MemoryStream[WireEvent]
        val table = s"whole_${name}_${System.nanoTime()}"
        val q = op(input.toDS()).writeStream.format("memory")
          .queryName(table).outputMode("append").start()
        try {
          input.addData(Seq(1000L, 1001L, 1200L).map(tagged))
          q.processAllAvailable()
          val events = spark.table(table).as[Seq[WireEvent]].collect().flatten
          assert(events.length == n, s"$name: ${events.toSeq}")
          assert(events.forall(e =>
            e.tags == Seq("prod") && e.attributes == Map("paws" -> "4")),
            s"$name: ${events.toSeq}")
        } finally q.stop()
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("every keyed step holds one key's state rows at its per-key " +
    "bound through re-arms, a size flush, a flap and a delete") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val spark0 = spark
      import spark0.implicits._
      // each event opens a new interval: the tick timer moves every batch
      churn("rate", 0, i => Seq(ev("ok", 1000 + 3 * i)))(
        StreamingRate(_, 1))
      // one event per period: each opens a period and re-arms its timer
      churn("rollup", 0, i => Seq(ev("ok", 1000 + 3 * i)))(
        StreamingRollup(_, n = 1, dtSeconds = 2))
      // flaps re-arm probation, proofs retire it; one buffered event
      churn("stable", 1, i =>
        Seq(ev(if (i % 3 == 0) "bad" else "ok", 1000 + 3 * i)))(
        StreamingStable(_, 2))
      // every second event size-flushes and retires the dt timer; the
      // odd last one leaves one buffered event, count and timer
      churn("batch", 1, i => Seq(ev("ok", 1000 + i)))(
        StreamingBatch(_, n = 2, dtSeconds = 1000))
      // each insert moves the ttl deadline; every fourth is a delete
      churn("index", 0, i =>
        Seq(if (i % 4 == 3) ev("delete", 1000 + i)
          else ev("ok", 1000 + i, Some(100.0))))(
        KeyedIndex(_, deleteState = Some("delete")))
      // one gram, seen again every batch: its quiet-period timer moves;
      // each document's text carrier is a stateless key of its own
      val span = (1 to 8).map(w => s"w$w").mkString(" ")
      churn("substring", 0, i => Seq((i.toLong, span, ts(1000 + i))))(
        d => StreamingSubstringDedup.marks(d.toDF("doc_id", "text", "time"),
          "time", minLen = 8))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
