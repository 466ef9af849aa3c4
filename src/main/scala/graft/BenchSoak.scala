package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JObject
import org.json4s.jackson.JsonMethods

import graft.streaming.{KeyedIndex, WireEvent}

/** The `Bench` subcommands that run the soak legs: `soak` (every leg at
  * once, for minutes, through restarts) and `ceiling` (each leg alone,
  * ×2-ramped). Both run the same leg table, [[Legs]]. */
private[graft] object BenchSoak {
  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The soak's leg shapes over the built-in `rate` source —
    * deterministic sustained load with no external dependency: `value`
    * maps onto a rotating key universe of `nKeys` hosts × 3 services,
    * event-time = source timestamp, ttl 60 s, watermark 30 s. `all`
    * maps each leg's name to its stream at an offered rows/s. */
  private final class Legs(spark: SparkSession, root: Path, nKeys: Int,
      horizonS: Long) {
    import spark.implicits._
    private val partitions = LocalSession.cpus

    // r16: static maintenance-window table for the config-wired enrich
    // leg — per service, a 30 s-on / 30 s-off deploy window every
    // minute spanning `horizonS` (plus slack), so the stream-static
    // interval join exercises BOTH the matched and the unmatched path
    // at a ~50% duty cycle the observed metrics can sanity-check
    private val enrichPath = s"$root/enrich_windows"
    locally {
      val t0s = System.currentTimeMillis() / 1000
      val lo = t0s / 60 * 60 - 120
      val hi = t0s + horizonS
      spark.range(lo / 60, hi / 60 + 1)
        .select((col("id") * 60).as("win_start"))
        .crossJoin(spark.range(3).select(
          concat(lit("svc-"), col("id").cast("string")).as("service")))
        .select(col("service"), col("win_start"),
          (col("win_start") + 30).as("win_end"),
          concat(lit("dep-"), col("service"), lit("-"),
            col("win_start").cast("string")).as("deploy_id"))
        .coalesce(1).write.parquet(enrichPath)
    }

    private def rate(rowsPerSec: Int): DataFrame = spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", partitions)
      .load()

    def events(rowsPerSec: Int): Dataset[WireEvent] =
      WireEvent.from(rate(rowsPerSec).select(
        concat(lit("host-"), (col("value") % nKeys).cast("string")).as("host"),
        concat(lit("svc-"), (col("value") % 3).cast("string")).as("service"),
        when(col("value") % 100 === 0, "critical").otherwise("ok").as("state"),
        (col("value") % 1000).cast("double").as("metric"),
        col("timestamp").as("time"),
        lit(60.0).as("ttl")))

    val all: Seq[(String, Int => DataFrame)] = Seq(
      // index: per-key latest + TTL expiry — state rows bounded by the
      // live key universe (nKeys * 3), NOT by events processed
      "index" -> (r => KeyedIndex(events(r), "30 seconds").toDF()),
      // windowed agg: 10 s windows, watermark-bounded retention
      "window" -> (r => events(r).withWatermark("time", "30 seconds")
        .groupBy(window(col("time"), "10 seconds"), col("service"))
        .agg(sum(col("metric")).as("sum_metric"), count(lit(1)).as("n"))
        .select(col("service"), col("window.start").as("time"),
          col("sum_metric"), col("n"))),
      // r15: gap sessionization under sustained load. The session key
      // rotates every 30 s of event time, so each key is hot for ~30 s
      // and then goes quiet forever — every session must CLOSE (the
      // block's silence exceeds the 10 s gap), emit, and have its
      // state evicted once the watermark passes; the key universe is
      // unbounded over the soak but open-session state is bounded by
      // the handful of live blocks. Monotonic state growth here would
      // mean session_window rows outlive their watermark.
      "session" -> (r => operators.Temporal.sessionize(
        events(r).toDF()
          .withColumn("sess_key", concat(lit("blk-"),
            floor(unix_seconds(col("time")) / 30).cast("string"),
            lit("-"), col("service")))
          .withWatermark("time", "30 seconds"),
        Seq("sess_key"), "time", "10 seconds")),
      // r15: windowed HDR quantiles — the chained two-level stateful
      // shape (bucket histogram -> re-window on window_time -> bounded
      // cell collect). State per (window, key) is <= ~2k histogram
      // cells; retention is watermark-bounded, so the series must
      // plateau exactly like the plain windowed agg.
      "quantiles" -> (r => pipeline.Sketches.streamingQuantiles(
        events(r).toDF(), "time", "10 seconds", Seq("service"),
        col("metric").cast("long"), Seq(500, 950, 990),
        watermark = "30 seconds")),
      // r16: the config-wired STATELESS enrich op — the firehose joins
      // the static maintenance-window table through ConfigFile.applyOp
      // (the exact "op":"enrich" path: intervalsOf + collision guards +
      // StreamingAsOf.enrich). No state store, so it contributes ZERO
      // state rows.
      "enrich" -> { r =>
        val op = JsonMethods.parse(
          s"""{"op":"enrich","table":"$enrichPath","by":["service"],
              "startCol":"win_start","endCol":"win_end",
              "fields":["deploy_id"],"bin":60}""").asInstanceOf[JObject]
        graft.config.ConfigFile.applyOp(events(r).toDF(), op)
      },
      // r19 VERDICT #3: the multi-source union shape — ONE stateful
      // stream (changed-state, flatMapGroupsWithState) fed by TWO
      // independent rate sources at r/2 each, unioned by name, sharing
      // ONE state store across legs (the r19 config semantics: the same
      // event key arriving on either transport hits the same state).
      // Both legs draw from the same (host, service) universe, so state
      // rows stay bounded by nKeys x 3 exactly like the index leg; a
      // per-leg split would double the store and fork the changed-state
      // answer.
      "union" -> (r => graft.streaming.StatefulOps.changedState(
        events(math.max(1, r / 2))
          .unionByName(events(math.max(1, r - r / 2)))).toDF()),
      // r11: the saturating-bucket dedup kernel under sustained load —
      // rotating near-dup doc variants drive every (band, bucket) into
      // horizon eviction AND saturation; state must plateau exactly
      // like the index (the soak offers a tenth of the event rate: the
      // minhash kernel is per-doc CPU, and the plateau question is
      // about STATE, not about racing the codec)
      "neardup" -> { r =>
        val docs = rate(r)
          .select(col("value").as("doc_id"),
            concat(lit("rotating base document "),
              (col("value") % 500).cast("string"),
              lit(" with a shared verbatim span of boilerplate words "),
              lit("variant "), (col("value") % 7).cast("string")).as("text"),
            col("timestamp").as("arrived"))
        graft.streaming.StreamingNearDup(docs, "arrived",
          horizonSeconds = 60L).toDF()
      })
  }

  /** `ceiling`: single-box throughput ceiling per soak stream family
    * (r16 verdict item 6): the 30-min soak runs all legs at a fixed
    * 50 K rows/s, which proves boundedness but not headroom. This
    * finds, for each family ALONE, the highest `rate` source rows/s the
    * box sustains: each family runs a ×2 ramp (warm up, then measure
    * mean ingested rows/s over a window); a rate is sustained when
    * measured capacity ≥ 90% of the offered rate — below that the
    * micro-batch backlog is growing by definition (the rate source
    * offers rows on the clock; capacity < offered ⇒ every batch reads
    * more than the last).
    *
    * Families = every soak leg but the plain window agg: index (TWS +
    * TTL timers), sessionize (session_window), quantiles (chained
    * two-level HDR windows), enrich (stateless stream-static interval
    * join), union (two sources into one state store), neardup
    * (saturating-bucket LSH).
    *
    * Appends one JSON line per attempt and a `max_sustained_eps`
    * summary row per family to `SOAK_OUT` (default soak_state.jsonl).
    * Env: SOAK_CEIL_START (50000), SOAK_CEIL_START_NEARDUP (5000),
    * SOAK_CEIL_MAX (3200000), SOAK_CEIL_WARMUP_S (15),
    * SOAK_CEIL_MEASURE_S (30), SOAK_CEIL_FAMILIES, SOAK_KEYS (20000),
    * SPARK_GRAFT_CPUS.
    */
  def ceiling(): Unit = {
    val startRate = sys.env.getOrElse("SOAK_CEIL_START", "50000").toInt
    val startNeardup =
      sys.env.getOrElse("SOAK_CEIL_START_NEARDUP", "5000").toInt
    val maxRate = sys.env.getOrElse("SOAK_CEIL_MAX", "3200000").toInt
    val warmupS = sys.env.getOrElse("SOAK_CEIL_WARMUP_S", "15").toLong
    val measureS = sys.env.getOrElse("SOAK_CEIL_MEASURE_S", "30").toLong
    val nKeys = sys.env.getOrElse("SOAK_KEYS", "20000").toInt
    val out = Paths.get(sys.env.getOrElse("SOAK_OUT", "soak_state.jsonl"))

    val spark = LocalSession(rocksDb)
    val ckptRoot = Files.createTempDirectory("graft-ceil-ckpt")
    val legs = new Legs(spark, ckptRoot, nKeys, horizonS = 4 * 3600)

    /** Offer `rate` for warmup+measure; return (mean ingested rows/s
      * over the measurement window, source backlog in seconds at its
      * end). Fresh checkpoint per attempt — each attempt answers "can
      * a cold stream hold this rate", not "can it drain the previous
      * attempt's backlog".
      *
      * Walks `recentProgress` (NOT `lastProgress`: stateful legs run
      * ~10 empty state-cleanup batches per data batch, so a point
      * sample almost always lands on an empty one) and reads the rate
      * source's offset lag — offsets are SECONDS of generated data,
      * so `latest − end` is directly "how many seconds behind the
      * clock the stream is": the micro-batch queue. */
    def capacityAt(name: String, mk: Int => DataFrame, rate: Int,
        attempt: Int): (Double, Double) = {
      val q = mk(rate).writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/$name-$attempt")
        .start()
      try {
        Thread.sleep(warmupS * 1000)
        val seen = scala.collection.mutable.Set[Long]()
        // batches committed before the window don't count
        q.recentProgress.foreach(p => seen += p.batchId)
        var rows = 0L
        var lagS = 0.0
        val t0 = System.currentTimeMillis()
        val deadline = t0 + measureS * 1000
        while (System.currentTimeMillis() < deadline) {
          Thread.sleep(2000)
          q.recentProgress.foreach { p =>
            if (!seen.contains(p.batchId)) {
              seen += p.batchId
              rows += p.numInputRows
            }
          }
          Option(q.lastProgress).flatMap(_.sources.headOption)
            .foreach { s =>
              try lagS = s.latestOffset.toDouble - s.endOffset.toDouble
              catch { case NonFatal(_) => () }
            }
        }
        val elapsedS = (System.currentTimeMillis() - t0) / 1000.0
        (rows / elapsedS, lagS)
      } finally {
        try q.stop() catch { case NonFatal(_) => () }
      }
    }

    // SOAK_CEIL_FAMILIES: comma-separated subset (re-probe one family
    // with different warmup/measure windows — slow-starting stateful
    // legs need more than the default 15 s before their first batch)
    val familyFilter = sys.env.get("SOAK_CEIL_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    // the ceiling rows name the session leg "sessionize"
    legs.all.collect { case (leg, mk) if leg != "window" =>
        (if (leg == "session") "sessionize" else leg, mk) }
      .filter(f => familyFilter.forall(_.contains(f._1)))
      .foreach { case (name, mk) =>
        val start = if (name == "neardup") startNeardup else startRate
        Bench.ramp(out, s""""ceiling_family":"$name"""", "max_sustained_eps",
            start, maxRate) { (rate, attempt) =>
          val (cap, lagS) = capacityAt(name, mk, rate, attempt)
          // sustained = the stream ingests ≥90% of the offered rate AND
          // ends the window ≤8 s behind the generation clock (a growing
          // backlog fails both; 8 s absorbs one slow stateful batch)
          val ok = cap >= 0.9 * rate && lagS <= 8.0
          System.err.println(f"[ceiling] $name rate=$rate cap=$cap%.0f " +
            f"lag=${lagS}%.0fs sustained=$ok")
          (ok, cap, f""""processed_eps":$cap%.0f,"end_lag_s":$lagS%.1f""")
        }
      }
    spark.stop()
  }

  /** `soak`: long-haul soak (the r7/r8 verdicts' carried item):
    * sustained throughput for `SOAK_MINUTES` (default 30) against the
    * state shapes a riemann core keeps forever — every leg of [[Legs]],
    * from the index (per-key latest + TTL timers, transformWithState on
    * RocksDB) to a watermarked window aggregation — with a
    * kill-and-restart every `SOAK_RESTART_EVERY_S` (default 300 s)
    * through the [[Core]] lifecycle on shared checkpoints.
    *
    * What it measures (the question behind riemann's documented
    * `by`-substream leak, reference src/riemann/streams.clj:1556-1583:
    * substream state there grows with key cardinality and is never
    * dropped): per-batch RocksDB state rows + on-disk bytes over wall
    * time, written to `SOAK_OUT` (default soak_state.jsonl, replaced).
    * With a bounded key universe and TTL-driven expiry the series must
    * PLATEAU; monotonic growth would reproduce the leak. The final
    * line is a summary JSON with first/mid/last-third maxima so a
    * reader (or the README table) can see boundedness at a glance.
    *
    * Env: SOAK_MINUTES, SOAK_RESTART_EVERY_S, SOAK_ROWS_PER_SEC
    * (50000), SOAK_RATE_<LEG> per-leg overrides, SOAK_KEYS (20000),
    * SOAK_OUT, SPARK_GRAFT_CPUS.
    */
  def soak(): Unit = {
    val minutes = sys.env.getOrElse("SOAK_MINUTES", "30").toLong
    val restartEveryS = sys.env.getOrElse("SOAK_RESTART_EVERY_S", "300").toLong
    val rowsPerSec = sys.env.getOrElse("SOAK_ROWS_PER_SEC", "50000").toInt
    val nKeys = sys.env.getOrElse("SOAK_KEYS", "20000").toInt
    val out = Paths.get(sys.env.getOrElse("SOAK_OUT", "soak_state.jsonl"))

    val spark = LocalSession(rocksDb)
    val ckptRoot = Files.createTempDirectory("graft-soak-ckpt")
    Files.deleteIfExists(out)
    val legs = new Legs(spark, ckptRoot, nKeys, horizonS = minutes * 60 + 300)
    // r17 VERDICT #6 (mixed-workload soak): per-family rate overrides
    // so the legs can run concurrently at fractions of their
    // INDIVIDUAL `ceiling` ceilings instead of one uniform rate
    val rates = legs.all.map { case (name, _) =>
      val dflt = if (name == "neardup") math.max(1, rowsPerSec / 10) else rowsPerSec
      name -> sys.env.getOrElse(s"SOAK_RATE_${name.toUpperCase}", dflt.toString).toInt
    }.toMap

    val core = new Core(spark)
    def register(): Unit = legs.all.foreach { case (name, mk) =>
      core.stream(s"soak-$name", signature = "v1") {
        val df = mk(rates(name))
        // the stateless enrich leg proves liveness THROUGH restarts and
        // that the join keeps MATCHING (an all-null left join would be
        // a silent interval-table or bin-formula fork): the observed
        // matched fraction (~50% duty cycle by construction) lands in
        // every soak sample line
        val observed = if (name != "enrich") df
          else df.observe("enrich_obs", count(lit(1)).as("n"),
            count(col("asof_deploy_id")).as("matched"))
        observed.writeStream.format("noop")
          .option("checkpointLocation", s"$ckptRoot/$name")
      }
    }

    // state-size sampler: StreamingQueryProgress stateOperators carry
    // numRowsTotal + RocksDB custom metrics (sst files bytes); one
    // (state rows, sst bytes, JSON line) per query
    def sample(): Seq[(Long, Long, String)] =
      core.activeQueries.toSeq.flatMap { case (name, q) =>
        Option(q.lastProgress).map { p =>
          val ops = p.stateOperators
          val rows = ops.map(_.numRowsTotal).sum
          val sst = ops.map(o =>
            Option(o.customMetrics.get("rocksdbSstFileSize"))
              .map(_.longValue).getOrElse(0L)).sum
          val mem = ops.map(_.memoryUsedBytes).sum
          // stateless legs (the enrich op) prove themselves via
          // observed per-batch metrics instead of state rows
          val obs = Option(p.observedMetrics.get("enrich_obs")).map { r =>
            s""","obs_n":${r.getAs[Long]("n")},""" +
              s""""obs_matched":${r.getAs[Long]("matched")}"""
          }.getOrElse("")
          // rate-source backlog in SECONDS behind the generation clock
          // (offsets are seconds of data). NOTE: within one COMPLETED
          // batch's progress, end==latest for the rate source (both
          // captured at planning), so this reads ~0 even when behind —
          // the real sustainability signal is span_s vs duration: a
          // batch that covers span_s seconds of generated data but
          // takes longer than span_s to process means the stream is
          // falling behind the clock (spans then grow batch over
          // batch). Both are recorded; readers should trust span/dur.
          val lagS = p.sources.headOption.map { s =>
            try s.latestOffset.toDouble - s.endOffset.toDouble
            catch { case NonFatal(_) => -1.0 }
          }.getOrElse(-1.0)
          val spanS = p.sources.headOption.map { s =>
            try s.endOffset.toDouble - s.startOffset.toDouble
            catch { case NonFatal(_) => -1.0 }
          }.getOrElse(-1.0)
          (rows, sst,
            s"""{"t":${System.currentTimeMillis / 1000},"query":"$name",""" +
            s""""batch":${p.batchId},"state_rows":$rows,""" +
            s""""sst_bytes":$sst,"mem_bytes":$mem,""" +
            f""""end_lag_s":$lagS%.1f,"span_s":$spanS%.1f,""" +
            s""""batch_ms":${p.batchDuration},""" +
            s""""input_rows":${p.numInputRows},""" +
            s""""rows_per_sec":${p.processedRowsPerSecond}$obs}""")
        }
      }

    register()
    core.applyConfig()
    System.err.println(s"[soak] running $minutes min, restart every " +
      s"$restartEveryS s, $rowsPerSec rows/s, $nKeys hosts; -> $out")

    val t0 = System.currentTimeMillis()
    val deadline = t0 + minutes * 60000
    var lastRestart = t0
    var nRestarts = 0
    val series = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(10000)
      val samples = sample()
      samples.foreach(s => Bench.appendLine(out, s._3))
      // total state across queries for the plateau check
      val rows = samples.map(_._1).sum
      val sst = samples.map(_._2).sum
      series += (((System.currentTimeMillis() - t0) / 1000, rows, sst))
      System.err.println(s"[soak] +${(System.currentTimeMillis() - t0) / 1000}s" +
        s" state_rows=$rows sst_bytes=$sst restarts=$nRestarts")

      if (System.currentTimeMillis() - lastRestart >= restartEveryS * 1000 &&
        System.currentTimeMillis() < deadline - 30000) {
        // the chaos leg: full stop (as in SoakSpec), re-register, same
        // checkpoints -> RocksDB recovery, state must carry over
        core.stop()
        register()
        core.applyConfig()
        nRestarts += 1
        lastRestart = System.currentTimeMillis()
        System.err.println(s"[soak] restart #$nRestarts done")
      }
    }
    core.stop()

    def thirdMax(sel: ((Long, Long, Long)) => Long, third: Int): Long = {
      val n = series.length
      val slice = series.slice(n * third / 3, n * (third + 1) / 3)
      if (slice.isEmpty) 0L else slice.map(sel).max
    }
    // the artifact's key order for the per-leg rates
    val rateJson = Seq("index", "window", "session", "quantiles", "enrich",
      "neardup", "union").map(n => s""""$n":${rates(n)}""").mkString("{", ",", "}")
    val summary =
      s"""{"minutes":$minutes,"rows_per_sec":$rowsPerSec,""" +
        s""""rates":$rateJson,""" +
        s""""keys":${nKeys * 3},""" +
        s""""restarts":$nRestarts,"samples":${series.length},""" +
        s""""state_rows_max_third1":${thirdMax(_._2, 0)},""" +
        s""""state_rows_max_third2":${thirdMax(_._2, 1)},""" +
        s""""state_rows_max_third3":${thirdMax(_._2, 2)},""" +
        s""""sst_bytes_max_third1":${thirdMax(_._3, 0)},""" +
        s""""sst_bytes_max_third2":${thirdMax(_._3, 1)},""" +
        s""""sst_bytes_max_third3":${thirdMax(_._3, 2)}}"""
    Bench.appendLine(out, summary)
    println(summary)
    spark.stop()
  }
}
