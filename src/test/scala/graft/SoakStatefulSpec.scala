package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{SEvent, StatefulOps, WireEvent}

/** Kill-and-restart chaos for the [[StatefulOps]] family — the
  * flatMapGroupsWithState operators the composed SoakSpec topology does
  * not cover (changed-state, sreduce, throttle, ewma-timeless). Each op
  * runs over its own MemoryStream + RocksDB checkpoint and is stopped
  * and restarted between three event phases; the golden expectations
  * are chosen so RECOVERED state and RESET state produce different
  * output:
  *   - changed-state: phase 2 re-sends the phase-1 end state — a reset
  *     operator would re-emit it (streams.clj changed's init semantics);
  *   - sreduce (+): the running sum spans phases;
  *   - throttle: phase 1 exhausts a bucket's quota, phase 2 sends more
  *     of the SAME event-time bucket — a reset count would leak them;
  *   - ewma-timeless: the accumulator value spans phases;
  *   - ddt: the phase-2 derivative is against the phase-1 last event —
  *     a reset prev would swallow the emission;
  *   - fixed/moving event windows: a partial buffer filled before a
  *     restart completes/extends after it.
  * Probes append under a batchId guard, so a replayed first batch after
  * recovery (foreachBatch is at-least-once) never double-counts. */
class SoakStatefulSpec extends SparkSpec {

  import StatefulChaos._

  private def se(state: String, m: Double, t: Long) =
    SEvent("h1", "s", state, Some(m), new java.sql.Timestamp(t * 1000L), None)

  test("stateful-op chaos: changed/sreduce/throttle/ewma/ddt + event-window " +
    "buffers survive 2 kill-and-restarts on RocksDB") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    StatefulChaos.reset()

    val ops = Seq("changed", "sreduce", "throttle", "ewma", "ddt")
    val winOps = Seq("fixedwin", "movingwin", "movingtime")
    val streams = (ops ++ winOps).map(op => op -> MemoryStream[WireEvent]).toMap
    val ckpts = (ops ++ winOps).map(op => op -> java.nio.file.Files
      .createTempDirectory(s"soak_stateful_$op").toString).toMap
    def startAll() = (ops.map { op =>
      val ds: Dataset[WireEvent] = op match {
        case "changed" => StatefulOps.changedState(streams(op).toDS())
        case "sreduce" => StatefulOps.sreduce(streams(op).toDS(), 0.0, _ + _)
        case "throttle" => StatefulOps.throttle(streams(op).toDS(), 2, 60)
        case "ewma" => StatefulOps.ewmaTimeless(streams(op).toDS(), 0.5)
        case "ddt" => StatefulOps.ddt(streams(op).toDS())
      }
      op -> ds.writeStream.outputMode("append")
        .option("checkpointLocation", ckpts(op))
        .foreachBatch(StatefulChaos.probe(op) _)
        .queryName(s"soak_$op").start()
    } ++ winOps.map { op =>
      val ds: Dataset[Seq[WireEvent]] = op match {
        case "fixedwin" => StatefulOps.fixedEventWindow(streams(op).toDS(), 3)
        case "movingwin" => StatefulOps.movingEventWindow(streams(op).toDS(), 3)
        case "movingtime" => StatefulOps.movingTimeWindow(streams(op).toDS(), 30)
      }
      op -> ds.writeStream.outputMode("append")
        .option("checkpointLocation", ckpts(op))
        .foreachBatch(StatefulChaos.probeWin(op) _)
        .queryName(s"soak_$op").start()
    }).toMap

    val phases: Seq[Map[String, Seq[WireEvent]]] = Seq(
      Map( // phase 1
        "changed" -> Seq(se("ok", 1, 100), se("ok", 2, 110)),
        "sreduce" -> Seq(se("ok", 1, 100), se("ok", 2, 110)),
        // bucket 120/60=2 for t in [120,180): quota of 2 exhausted here
        "throttle" -> Seq(se("ok", 1, 120), se("ok", 2, 125), se("ok", 3, 130)),
        "ewma" -> Seq(se("ok", 4, 100)),
        "ddt" -> Seq(se("ok", 1, 100), se("ok", 3, 110)),
        "fixedwin" -> Seq(se("ok", 1, 100), se("ok", 2, 110)), // partial 2/3
        "movingwin" -> Seq(se("ok", 1, 100), se("ok", 2, 110)),
        "movingtime" -> Seq(se("ok", 1, 100), se("ok", 2, 110))),
      Map( // phase 2 — state from phase 1 must still be live
        "changed" -> Seq(se("ok", 3, 120), se("critical", 4, 130)),
        "sreduce" -> Seq(se("ok", 4, 120)),
        "throttle" -> Seq(se("ok", 4, 135), se("ok", 5, 140)), // same bucket
        "ewma" -> Seq(se("ok", 4, 110)),
        "ddt" -> Seq(se("ok", 6, 120)), // (6-3)/10 only if prev recovered
        // the recovered 2-event buffer completes here — a reset
        // operator would instead wait for two more events
        "fixedwin" -> Seq(se("ok", 3, 120), se("ok", 4, 130)),
        "movingwin" -> Seq(se("ok", 3, 120), se("ok", 4, 130)),
        // t=120: the 30s window must reach back to the recovered
        // phase-1 events (a reset horizon/buffer would emit just [3])
        "movingtime" -> Seq(se("ok", 3, 120))),
      Map( // phase 3 — and again after a second restart
        "changed" -> Seq(se("critical", 5, 140), se("ok", 6, 150)),
        "sreduce" -> Seq(se("ok", 5, 130)),
        "throttle" -> Seq(se("ok", 6, 200)), // new bucket 200/60=3
        "ewma" -> Seq(se("ok", 4, 120)),
        "ddt" -> Seq(se("ok", 6, 130)), // flat: derivative 0
        "fixedwin" -> Seq(se("ok", 5, 140), se("ok", 6, 150)),
        "movingwin" -> Seq(se("ok", 5, 140)),
        // t=140: horizon 140 prunes t<=110, keeps recovered t=120
        "movingtime" -> Seq(se("ok", 4, 140))))

    phases.zipWithIndex.foreach { case (phase, i) =>
      val queries = startAll() // phase 0 starts fresh; later ones recover
      try {
        phase.foreach { case (op, es) => streams(op).addData(es) }
        queries.values.foreach(_.processAllAvailable())
      } finally queries.values.foreach(_.stop())
      ()
    }

    // changed-state: first event, then genuine transitions only — the
    // phase-2 'ok' after the phase-1 'ok' end state must NOT re-emit
    assert(got("changed").map(e => (e.state, e.time.getTime / 1000)) ==
      Seq(("ok", 100L), ("critical", 130L), ("ok", 150L)))
    // sreduce: running sum 1,3 | 7 | 12 across both restarts
    assert(got("sreduce").flatMap(_.metric) == Seq(1.0, 3.0, 7.0, 12.0))
    // throttle: phase-2 events of the exhausted bucket leak nowhere
    assert(got("throttle").map(_.time.getTime / 1000) ==
      Seq(120L, 125L, 200L))
    // ewma r=0.5 from 0: 2 | 3 | 3.5
    assert(got("ewma").flatMap(_.metric) == Seq(2.0, 3.0, 3.5))
    // ddt: (3-1)/10 | (6-3)/10 across the restart | flat 0 — a reset
    // prev would swallow the phase-2 emission entirely
    assert(got("ddt").flatMap(_.metric) == Seq(0.2, 0.3, 0.0))
    // fixed window n=3: the phase-1 partial buffer completes in phase 2
    assert(gotWin("fixedwin") == Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
    // moving window n=3: phase-2/3 windows reach back across restarts
    assert(gotWin("movingwin") == Seq(Seq(1.0), Seq(1.0, 2.0),
      Seq(1.0, 2.0, 3.0), Seq(2.0, 3.0, 4.0), Seq(3.0, 4.0, 5.0)))
    // moving TIME window 30s: the recovered horizon+buffer admits the
    // phase-1 events at t=120 and prunes t<=110 at t=140
    assert(gotWin("movingtime") == Seq(Seq(1.0), Seq(1.0, 2.0),
      Seq(1.0, 2.0, 3.0), Seq(3.0, 4.0)))
  }
}

/** Driver-side probe store; append is guarded per-op by batchId so a
  * replayed batch after recovery never double-counts. */
object StatefulChaos {
  private val outs =
    scala.collection.mutable.Map[String, ArrayBuffer[WireEvent]]()
  private val lastBatch = scala.collection.mutable.Map[String, Long]()
  def reset(): Unit =
    synchronized { outs.clear(); winOuts.clear(); lastBatch.clear() }
  def probe(op: String)(b: Dataset[WireEvent], id: Long): Unit = {
    val rows = b.collect().toSeq // stage outside the guard
    synchronized {
      if (id > lastBatch.getOrElse(op, -1L)) {
        outs.getOrElseUpdate(op, ArrayBuffer()) ++= rows
        lastBatch(op) = id
      }
    }
  }
  def got(op: String): Seq[WireEvent] = synchronized {
    outs.getOrElse(op, ArrayBuffer()).sortBy(_.time.getTime).toList
  }

  private val winOuts =
    scala.collection.mutable.Map[String, ArrayBuffer[Seq[Double]]]()
  def probeWin(op: String)(b: Dataset[Seq[WireEvent]], id: Long): Unit = {
    val rows = b.collect().toSeq.map(_.flatMap(_.metric).toSeq)
    synchronized {
      if (id > lastBatch.getOrElse(op, -1L)) {
        winOuts.getOrElseUpdate(op, ArrayBuffer()) ++= rows
        lastBatch(op) = id
      }
    }
  }
  /** Windows ordered by their last element (arrival order per key). */
  def gotWin(op: String): Seq[Seq[Double]] = synchronized {
    winOuts.getOrElse(op, ArrayBuffer()).sortBy(w => w.lastOption.getOrElse(0.0)).toList
  }
}
